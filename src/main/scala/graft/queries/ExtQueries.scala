package graft.queries

import graft.ext.{Ann, Dedup, Multimodal, TextAnalysis}
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale data-pipeline extension surface (BASELINE.json north-star):
  * near-duplicate dedup (MinHash+LSH, n-gram Jaccard, SimHash), embedding
  * similarity search (exact + hyperplane-LSH), language ID, content
  * fingerprinting, multimodal binary plumbing. Hash families are md5-based
  * throughout so the DuckDB oracle reproduces signatures/buckets exactly.
  */
object ExtQueries {
  type Q = (SparkSession, String) => DataFrame

  private val SH = 3   // shingle size
  private val NH = 8   // minhash count
  private val BAND = 2 // signatures per LSH band

  /** q269: audit-sample knobs. The ground-truth pair work is quadratic IN
    * THE SAMPLE only, so the sample must stop growing with the corpus: the
    * draw threshold is min(SamplePct%, ceil(SampleTarget·10⁹/N)) parts per
    * BILLION of a 12-hex md5 draw — a fixed-percent floor at gate scales
    * (N ≤ 5000 docs, where 5% is at most 250 docs anyway) that becomes a
    * fixed ABSOLUTE ~SampleTarget docs the moment 5% would exceed it.
    * The sf10 stress tier caught the previous fixed-percent form red-
    * handed: 25k sampled docs (5% of 500k) put the audit at 852 s, #2 in
    * the whole tier, growing quadratically with the corpus. With the cap
    * the audit is ≤ max(SampleTarget, N/10⁹) docs at ANY scale — at 10¹¹
    * docs (≈100 TB) that is still only ~300. ppb granularity (not the old
    * percent buckets) is what keeps "absolute" honest: a 1-ppm floor
    * would already re-grow to 100k docs at 10¹¹.
    */
  private val SamplePct = 5
  private val SampleTarget = 250L
  private val PLANES = 8
  private val DIM = 64

  /** Minhash signatures as a shared stage (one materialization per
    * session+dataset — the dedup analogue of the reference's staged keyword
    * files): q25, q26 and every candidate pass share the signatures.
    */
  private def sharedSigs(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"minhash-sigs:$SH:$NH:$d") {
      graft.runtime.Stage.persistShared(
        Dedup.minhashSignatures(graft.ops.Ops.fanOut(Tables.documents(s, d)),
          "doc_id", col("text"), SH, NH))
    }

  /** Per-doc distinct shingle ARRAYS (r13): the narrow scoring input every
    * exact-jaccard pass joins twice by doc id — see Dedup.jaccardOnArrays
    * for why this beats rescoring through an exploded-row table. The one
    * consumer that needs shingle-keyed rows (q269's truth-pair
    * co-occurrence join) explodes these arrays, so the session caches one
    * shingle form, not two.
    */
  private def sharedShingleArrays(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"shingle-arrays:$SH:$d") {
      graft.runtime.Stage.persistShared(
        Dedup.shingleArrays(graft.ops.Ops.fanOut(Tables.documents(s, d)),
          "doc_id", col("text"), SH))
    }

  /** LSH candidate pairs as a shared stage: the band self-join feeds q26's
    * jaccard scoring (two plan branches) and q70's cluster resolution.
    */
  private def sharedCands(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"lsh-cands:$SH:$NH:$BAND:$d") {
      graft.runtime.Stage.persistShared(
        Dedup.lshCandidates(sharedSigs(s, d), "doc_id", NH, BAND))
    }

  /** Jaccard-scored LSH candidate pairs as a shared stage: q26 emits them
    * directly and q70 thresholds them into dedup-cluster edges — scoring
    * (the shingle-intersection join, the expensive step) runs once per
    * session+dataset.
    */
  private def sharedScoredPairs(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"lsh-scored-pairs:$SH:$NH:$BAND:$d") {
      graft.runtime.Stage.persistShared(
        Dedup.jaccardOnArrays(sharedCands(s, d), sharedShingleArrays(s, d)))
    }

  /** Exact-duplicate collapse map (doc_id, rep, crep): rep = min doc_id
    * among byte-identical texts (md5 groupBy + join back — never a window
    * over the hash, whose partitions would be dup-multiplicity-sized). The
    * production pre-pass every fuzzy-dedup pipeline runs first
    * (RefinedWeb, Penedo et al. 2023 §3.2: exact dedup BEFORE MinHash):
    * without it the LSH candidate count is QUADRATIC in the exact-dup
    * multiplicity — the ×100-replicated sf10 stress corpus priced the
    * full-corpus scored-pair build at 575 s cold where the collapsed
    * build is seconds. At the gate SFs the corpus has zero exact dups,
    * so reps = all docs and every downstream result is unchanged.
    *
    * Two rep columns because exact-audit and fuzzy-collapse semantics
    * differ on SHORT docs: `rep` groups every byte-identical text (the
    * q278 exact-dedup ledger), while `crep` — the collapse key the fuzzy
    * stage rides — groups only docs with >= SH tokens (non-empty shingle
    * sets). A doc under SH tokens has a null minhash signature, so the
    * defining full-corpus LSH semantics (the DuckDB oracles and the
    * union-find checker) never emit an edge between short exact copies;
    * collapsing them would invent clusters the oracle lacks. Byte-identical
    * texts tokenize identically, so every exact group is homogeneous in
    * shingleability and `crep` is exact-group-consistent.
    */
  private def sharedRepMap(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"exact-reps:$SH:$d") {
      // Persist the hashed projection: it feeds both the groupBy and the
      // join-back, and without the persist the documents scan + md5 +
      // tokenize run twice inside this one stage build.
      val h = graft.runtime.Stage.persistShared(
        graft.ops.Ops.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), md5(col("text")).as("_h"),
            (size(graft.text.Tokenizer.tokens(col("text"))) >= SH)
              .as("_shingleable")))
      graft.runtime.Stage.persistShared(
        h.join(h.groupBy(col("_h")).agg(min(col("doc_id")).as("rep")), "_h")
          .select(col("doc_id"), col("rep"),
            when(col("_shingleable"), col("rep")).otherwise(col("doc_id"))
              .as("crep")))
    }

  /** Jaccard-scored LSH pairs among exact-dup REPRESENTATIVES only — the
    * cluster stage's edge source. Output-identical to thresholding the
    * full-corpus pairs: copies carry byte-identical minhash signatures,
    * so (copyX, copyY) collides in a band iff (repX, repY) does and has
    * the same jaccard; within-group copy pairs are replaced by the
    * copy→rep star edges in [[dedupClusters]]. Work is dup-LINEAR.
    */
  private def repScoredPairs(s: SparkSession, d: String): DataFrame =
    // Key versioned v2 when the stage's semantics changed (rep → crep rep
    // set, round 10) — Stage.shared is in-memory per session today, but a
    // persisted cross-run stage cache must never serve the pre-crep result
    // (ADVICE r10).
    graft.runtime.Stage.shared(s, s"rep-scored-pairs:v2:$SH:$NH:$BAND:$d") {
      val repDocs = graft.ops.Ops.fanOut(
        Tables.documents(s, d).join(
          sharedRepMap(s, d).filter(col("doc_id") === col("crep"))
            .select(col("doc_id")), Seq("doc_id"), "left_semi"))
      val sigs = graft.runtime.Stage.persistShared(
        Dedup.minhashSignatures(repDocs, "doc_id", col("text"), SH, NH))
      graft.runtime.Stage.persistShared(
        Dedup.jaccardOnArrays(
          Dedup.lshCandidates(sigs, "doc_id", NH, BAND),
          Dedup.shingleArrays(repDocs, "doc_id", col("text"), SH)))
    }

  /** Exact-jaccard-scored STAR candidate pairs ([[Dedup.lshStarCandidates]]):
    * ≤ numBands·N edges by construction, so the exact rescoring join is
    * candidate-LINEAR even on a near-dup-dense corpus — the sub-quadratic
    * exact cluster stage (VERDICT r10 task 1). Kept separate from the
    * rep-collapsed [[repScoredPairs]]: star generation is already
    * dup-linear (a ×m exact-copy bucket emits m−1 edges, not C(m,2)), so
    * it runs on the FULL corpus and its declared semantics need no
    * collapse argument.
    */
  private def starScoredPairs(s: SparkSession, d: String,
                              numHubs: Int = 1): DataFrame =
    graft.runtime.Stage.shared(s, s"star-scored-pairs:$SH:$NH:$BAND:$numHubs:$d") {
      graft.runtime.Stage.persistShared(
        Dedup.jaccardOnArrays(
          Dedup.lshStarCandidates(sharedSigs(s, d), "doc_id", NH, BAND, numHubs),
          sharedShingleArrays(s, d)))
    }

  /** q281's cluster labels: CC over star edges thresholded at the q70 τ.
    * Star clusters REFINE q70's (edge subgraph ⇒ components only split,
    * never merge — see [[Dedup.lshStarCandidates]]); ExtSpec pins both the
    * refinement property and a constructed split case. `numHubs` is the
    * recall dial (q281 = 1, q285 = 2; both refine q70, and q281 refines
    * q285 — larger h only adds edges).
    */
  private def starClusters(s: SparkSession, d: String,
                           numHubs: Int = 1): DataFrame = {
    val edges = starScoredPairs(s, d, numHubs)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val verts = Tables.documents(s, d).select(col("doc_id").as("_id"))
    Dedup.connectedComponents(verts, edges,
      reroot = graft.runtime.Reroot.fromEnv())
      .select(col("_id").as("doc_id"), col("label").as("cluster"),
        (col("_id") === col("label")).as("is_canonical"))
  }

  /** q286's cluster labels: CC over star(h=1) edges PLUS the detached-
    * member rescue wave — bit-identical to q70's labels by the exactness
    * theorem on [[Dedup.lshStarRescueCandidates]], at candidate-linear +
    * failure-proportional cost instead of the pair-complete stage's
    * group-quadratic one (sf10nd: 0 label diffs over 500k docs). Shares
    * the star scoring stage with q281 (same session ⇒ the rescue pass is
    * the only extra work).
    */
  private def starRescueClusters(s: SparkSession, d: String): DataFrame = {
    // The star-scored pairs feed three consumers here (failure set,
    // surviving edges) and are already session-shared/persisted. The
    // hub-joined band table feeds the rescue pass twice (incidence probe +
    // pair join) — persist the JOINED frame so the band explode, the
    // (band, key) hub groupBy and the hub join all run once (guide §2.4);
    // caching the bare band explode alone was measured as a net loss
    // (it is map-side at any scale), caching the shuffle-bearing hub
    // aggregate and its join is the win.
    val bands = Dedup.bandRows(sharedSigs(s, d), "doc_id", NH, BAND)
    val withHub = graft.runtime.Stage.scopedPersist(
      Dedup.starJoined(bands, Dedup.starHubs(bands, "doc_id")))
    val edges = starRescueEdges(starScoredPairs(s, d), withHub,
        sharedShingleArrays(s, d))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val verts = Tables.documents(s, d).select(col("doc_id").as("_id"))
    Dedup.connectedComponents(verts, edges,
      reroot = graft.runtime.Reroot.fromEnv())
      .select(col("_id").as("doc_id"), col("label").as("cluster"),
        (col("_id") === col("label")).as("is_canonical"))
  }

  /** Star(h=1) ∪ rescue-wave thresholded edges over a prebuilt (typically
    * scoped-persisted) hub-joined band table ([[Dedup.starJoined]]) — the
    * reusable core of q286 and the q288 incremental posture. `scored` must
    * be the exact-jaccard-scored star candidates of the same bands
    * (persisted by the caller; it feeds both the failure set and the
    * surviving edges). By the exactness theorem on
    * [[Dedup.lshStarRescueCandidates]], CC over the returned (doc_a,
    * doc_b) edges equals CC over the pair-complete thresholded LSH
    * candidates of those bands — for WHATEVER sub-corpus they cover, since
    * signatures and band keys are per-document (corpus-independent).
    * Sharing `withHub` across the star, rescue-incidence and rescue-pair
    * passes (r14) avoids re-exploding, re-aggregating and re-joining the
    * signatures per pass.
    *
    * The rescue scoring's size prefilter is output-invariant (it provably
    * drops only sub-τ pairs — Dedup.tauSizePredicate) but skips the
    * intersection for them; the oracle chains and check_q286/check_q288
    * deliberately OMIT it, so the gate cross-validates its exactness every
    * run.
    */
  private def starRescueEdges(scored: DataFrame, withHub: DataFrame,
                              arrs: DataFrame): DataFrame = {
    val failed = scored.filter(col("jaccard") < 0.5)
      .select(col("doc_a"), col("doc_b"))
    // r13: rescue scoring through the array form — the size prefilter is
    // the SAME output-invariant rational predicate (incl. rounding slack),
    // folded into the scoring join as a per-row filter instead of two
    // extra size-table joins (Dedup.jaccardOnArrays `tau`).
    val rescueScored = Dedup.jaccardOnArrays(
      Dedup.lshStarRescueCandidates(withHub, "doc_id", failed),
      arrs, tau = Some((1, 2)))
    scored.filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .union(rescueScored.filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b")))
  }

  /** q288's cluster labels — the INCREMENTAL rendering of q286's exact
    * posture (VERDICT r12 task 3): a new batch (doc_id % 10 = 9, the
    * q263 crawl stand-in) is merged into an already-deduped base corpus
    * WITHOUT re-clustering the base, and the output labels are
    * bit-identical to running the exact union dedup (q286 ≡ q70) over
    * base ∪ batch.
    *
    * Delta-posture theorem (pinned in ExtSpec; recomputed independently
    * by check_q288): let U = B ⊎ I and E70(U) the thresholded
    * pair-complete LSH edge set over U. Signatures, band keys and pair
    * jaccard are per-document/per-pair (corpus-independent), so E70(U)
    * partitions exactly into E70(B) ⊎ E70(I) ⊎ E_cross, where E_cross is
    * the thresholded asymmetric band-collision set
    * ([[Dedup.lshCandidatesAgainst]] scores EVERY cross band collision —
    * pair-complete across the cut). Replace each intra part by a
    * connectivity-equivalent subgraph on its own vertex set (star ∪
    * rescue via the q286 theorem; then the base part again by its
    * label→member stars, connectivity-equivalent by the definition of
    * labels): the union graph keeps identical connected components,
    * hence identical min-id labels. Finally, a base component with NO
    * incident cross edge is untouched by every new edge, so its labels
    * are unchanged — only TOUCHED clusters (those with a cross-edge
    * member) enter the merge CC at all.
    *
    * Scale shape: per-batch cost is the batch's own star+rescue work +
    * one asymmetric band probe against the base band table + a
    * label-keyed membership join over TOUCHED clusters only. Nothing
    * re-shingles or re-scores the base corpus; the base-side work is two
    * hash joins against stored state (bands, labels) — at 100 TB both
    * are bucketed tables and the probe cost scales with |batch|·bands,
    * not |base|.
    * The base state (labels) is computed here from base docs because the
    * harness is single-shot; a production deployment loads it.
    */
  private def incrementalClusters(s: SparkSession, d: String): DataFrame = {
    import graft.runtime.Stage
    val sigs = sharedSigs(s, d)
    val arrs = sharedShingleArrays(s, d)
    val docs = Tables.documents(s, d)
    val reroot = graft.runtime.Reroot.fromEnv()

    // ONE band derivation for the whole posture (r14): base star, base
    // rescue, batch star, batch rescue and the cross probe all band the
    // same signatures. The band table is NOT persisted — bandRows is a
    // narrow per-row explode over the already-persisted signatures (no
    // shuffle at any scale), and an r14 A/B measured the persist as a net
    // LOSS (+1.7 s/solo run: three extra materialization barriers against
    // a recomputation that is map-side only). The split into inc/base is
    // a filter over the derived table.
    val bands = Dedup.bandRows(sigs, "doc_id", NH, BAND)
    val incBands = bands.filter(col("doc_id") % 10 === 9)
    val baseBands = bands.filter(col("doc_id") % 10 =!= 9)

    def partEdges(partBands: DataFrame): DataFrame = {
      // ONE hub-joined band materialization per part (r14): star
      // candidates, rescue incidence and rescue pairs all consume it —
      // the (band, key) hub join runs once, not three times.
      val withHub = Stage.scopedPersist(Dedup.starJoined(partBands,
        Dedup.starHubs(partBands, "doc_id")))
      val scored = Stage.scopedPersist(Dedup.jaccardOnArrays(
        Dedup.lshStarCandidates(withHub, "doc_id"), arrs))
      starRescueEdges(scored, withHub, arrs)
    }

    // Batch-internal edges (star+rescue within the batch) and cross
    // edges (asymmetric band probe, pair-complete across the cut). The
    // batch side is small relative to the base by the incremental
    // contract, so it rides a broadcast — the base band table is never
    // shuffled by the probe (guide §3.1).
    val incEdges = partEdges(incBands)
    val cross = Stage.scopedPersist(
      Dedup.jaccardOnArrays(
        Dedup.lshCandidatesAgainst(broadcast(incBands), baseBands, "doc_id"),
        arrs, tau = Some((1, 2)))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")))

    // Base state — in production this is LOADED (the previous run's
    // labels + band table); the single-shot harness computes it from the
    // base partition with the same exact posture.
    //
    // A concurrent-overlap variant (batch-side materialization on a driver
    // thread while the base CC iterates, guide §2.6) was measured and
    // REJECTED here: local-mode AQE queries running concurrently destabilize
    // each other (base CC phase 4.4 s serial → 21-30 s under overlap; solo
    // lane 8.7 → 16.2 s median). The serial order below is the measured-best
    // shape.
    val baseVerts = docs.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id").as("_id"))
    val baseLabels = Stage.scopedPersist(
      Dedup.connectedComponents(baseVerts,
        partEdges(baseBands).select(col("doc_a").as("a"), col("doc_b").as("b")),
        reroot = reroot))

    // Touched base clusters: those with a cross-edge member. Only their
    // members enter the merge CC (as label→member star edges); every
    // other base doc keeps its label untouched.
    val touched = baseLabels.join(
        cross.select(col("doc_b").as("_id")).distinct(), Seq("_id"), "left_semi")
      .select(col("label").as("_tc")).distinct()
    val touchedMembers = Stage.scopedPersist(
      baseLabels.join(touched, baseLabels("label") === touched("_tc"),
        "left_semi"))
    val labelStars = touchedMembers.filter(col("_id") =!= col("label"))
      .select(col("label").as("a"), col("_id").as("b"))
    val verts = docs.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id").as("_id"))
      .union(touchedMembers.select(col("_id")))
    val edges = incEdges.union(cross)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(labelStars)
    val merged = Dedup.connectedComponents(verts, edges, reroot = reroot)
    val untouched = baseLabels.join(touched,
      baseLabels("label") === touched("_tc"), "left_anti")
    merged.union(untouched)
      .select(col("_id").as("doc_id"), col("label").as("cluster"),
        (col("_id") === col("label")).as("is_canonical"),
        (col("_id") % 10 === 9).as("is_incoming"))
  }

  /** q279's estimate-scored candidate pairs: signature-slot agreement over
    * the shared band candidates — no shingle join anywhere.
    */
  private def estimatePairs(s: SparkSession, d: String): DataFrame = {
    val sigs = sharedSigs(s, d)
    val vec = array((0 until NH).map(i => col(s"sig$i")): _*)
    val sa = sigs.select(col("doc_id").as("doc_a"), vec.as("_va"))
    val sb = sigs.select(col("doc_id").as("doc_b"), vec.as("_vb"))
    sharedCands(s, d)
      .join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(filter(zip_with(col("_va"), col("_vb"),
            (x, y) => x === y), b => b)).cast("double") / NH, 6)
          .as("est_jaccard"))
  }

  /** q280's estimate-edge cluster labels — the fully-cheap screening
    * clusters q282/q283 ride for the end-to-end estimate-tier triage
    * report (VERDICT r10 task 6). A SHARED stage (unlike the exact
    * [[dedupClusters]], which each exact lane prices cold): the whole
    * point of the screening tier is one cheap cluster pass feeding every
    * triage report, so the CC labels are materialized once per
    * session+dataset. sharedStage (cut + doc_id repartition + cache)
    * rather than persistShared: the CC loop's final frame rides scoped
    * localCheckpoints, and the cut severs that lineage while pinning the
    * doc_id partitioning the q282/q283 joins consume.
    */
  private def estimateClusters(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"estimate-clusters:$SH:$NH:$BAND:$d") {
      val edges = estimatePairs(s, d).filter(col("est_jaccard") >= 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val verts = Tables.documents(s, d).select(col("doc_id").as("_id"))
      graft.runtime.Stage.sharedStage(
        Dedup.connectedComponents(verts, edges,
          reroot = graft.runtime.Reroot.fromEnv())
          .select(col("_id").as("doc_id"), col("label").as("cluster"),
            (col("_id") === col("label")).as("is_canonical")),
        col("doc_id"))
    }

  /** q70's cluster labels (doc_id, cluster, is_canonical), shared with the
    * q98 keep-one ledger. Edges = rep-level near-dup pairs ∪ copy→rep
    * stars; components (and min-id labels) are bit-identical to running
    * CC on the full-corpus pair set — see [[sharedRepMap]].
    */
  private def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val repDup = repScoredPairs(s, d)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // Star edges only for SHINGLEABLE copies (crep, not rep): a short
    // exact duplicate has a null signature and therefore no edge under
    // the defining full-LSH semantics — it must stay a singleton.
    val copyStars = sharedRepMap(s, d)
      .filter(col("doc_id") =!= col("crep"))
      .select(col("doc_id").as("a"), col("crep").as("b"))
    val verts = Tables.documents(s, d).select(col("doc_id").as("_id"))
    Dedup.connectedComponents(verts, repDup.unionByName(copyStars),
      reroot = graft.runtime.Reroot.fromEnv())
      .select(col("_id").as("doc_id"), col("label").as("cluster"),
        (col("_id") === col("label")).as("is_canonical"))
  }

  val queries: Map[String, Q] = Map(
    "q25_minhash_sig" -> ((s, d) => sharedSigs(s, d)),

    "q26_lsh_pairs" -> ((s, d) => sharedScoredPairs(s, d)),

    // Near-dup cluster resolution: LSH pairs above jaccard 0.5 become an
    // undirected graph; hash-min connected components label every doc with
    // its cluster's minimum id (the canonical copy a curator keeps).
    "q70_dedup_clusters" -> ((s, d) => dedupClusters(s, d)),

    // Dedup resolution applied: keep one canonical doc per near-dup
    // cluster, report the per-language keep/drop ledger — the number a
    // curator actually signs off on. Rides q70's shared cluster stage;
    // the extra work is one broadcast-sized join to lang plus a 5-row agg.
    "q98_dedup_keep_one" -> ((s, d) => {
      val kept = when(col("is_canonical"), 1L).otherwise(0L)
      dedupClusters(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(kept).as("n_kept"),
          (count(lit(1)) - sum(kept)).as("n_dropped"))
    }),

    // Incremental ingestion dedup — the production posture of near-dup
    // detection: a NEW batch (docs with doc_id % 10 = 9, the synthetic
    // stand-in for today's crawl) is checked against the EXISTING corpus
    // (the other 90%) without ever re-clustering the base. Incoming bands
    // probe base bands (asymmetric equi-join — per-batch cost is
    // O(|batch|·bands), not a corpus self-join); band collisions get exact
    // shingle Jaccard; an incoming doc is admitted (is_new) iff no base
    // doc matches at ≥ 0.5. Intra-batch duplicates are deliberately out of
    // scope (q70's self-dedup handles those) — an incoming pair of mutual
    // near-dups is admitted whole. Signatures and shingles ride the SAME
    // shared stages as q25/q26, so the incremental lane adds only the
    // asymmetric probe to a session that already deduped.
    "q263_incremental_dedup" -> ((s, d) => {
      val sigs = sharedSigs(s, d)
      val inc = sigs.filter(col("doc_id") % 10 === 9)
      val base = sigs.filter(col("doc_id") % 10 =!= 9)
      val cands = Dedup.lshCandidatesAgainst(
        Dedup.bandRows(inc, "doc_id", NH, BAND),
        Dedup.bandRows(base, "doc_id", NH, BAND), "doc_id")
      val best = Dedup.jaccardOnArrays(cands, sharedShingleArrays(s, d))
        .groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as("n_cands"), max(col("jaccard")).as("best_jaccard"))
      inc.select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_cands"))
        .withColumn("is_new",
          col("best_jaccard").isNull || col("best_jaccard") < 0.5)
        .select(col("doc_id"), col("n_cands"), col("best_jaccard"), col("is_new"))
    }),

    // Split-leakage audit — the train/benchmark contamination check every
    // corpus release runs (Brown et al. 2020 §4 measure benchmark overlap
    // with the training set; Dodge et al. 2021 audit C4 the same way):
    // near-dup pairs at the q70 threshold (jaccard ≥ 0.5) whose two sides
    // land in DIFFERENT q262 splits (the md5-draw train/val/test rule).
    // Reports, per ordered split pair, how many near-dup pairs straddle
    // the boundary and how many distinct docs on the MORE-eval side
    // (train < val < test) are contaminated. Rides the SAME shared
    // scored-pair stage as q26/q70 — the audit adds one doc_id-keyed join
    // to the split rule and a ≤3-row aggregate; at 100 TB its marginal
    // cost over a session that already deduped is the split join only.
    "q268_split_leakage" -> ((s, d) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long") % SplitDraw.Mod.toLong).cast("int")
      val splits = Tables.documents(s, d).select(col("doc_id"),
        when(bucket < SplitDraw.TrainLt, "train")
          .when(bucket < SplitDraw.ValLt, "val").otherwise("test").as("sp"),
        when(bucket < SplitDraw.TrainLt, 0)
          .when(bucket < SplitDraw.ValLt, 1).otherwise(2).as("spr"))
      sharedScoredPairs(s, d).filter(col("jaccard") >= 0.5)
        .join(splits.select(col("doc_id").as("doc_a"),
          col("sp").as("sp_a"), col("spr").as("r_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"),
          col("sp").as("sp_b"), col("spr").as("r_b")), "doc_b")
        .filter(col("sp_a") =!= col("sp_b"))
        .select(
          when(col("r_a") <= col("r_b"), col("sp_a")).otherwise(col("sp_b"))
            .as("split_lo"),
          when(col("r_a") <= col("r_b"), col("sp_b")).otherwise(col("sp_a"))
            .as("split_hi"),
          when(col("r_a") <= col("r_b"), col("doc_b")).otherwise(col("doc_a"))
            .as("_leaked"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("_leaked")).as("n_leaked_docs"))
    }),

    // LSH recall audit — the measurement behind choosing (bands, rows):
    // ground-truth near-dup pairs (exact jaccard ≥ 0.5) are computed
    // EXACTLY on a deterministic md5-draw sample of the corpus, then
    // compared against what the production LSH path (q26's shared scored
    // pairs) found inside that same sample. recall = |LSH ∩ truth|/|truth|
    // — and because the LSH path scores candidates with the same exact
    // jaccard, LSH∩truth is just the LSH pairs restricted to the sample.
    // Scale shape: the quadratic ground-truth work is confined to the
    // sample (pairs generated by shared-shingle co-occurrence WITHIN the
    // sample — docs sharing no shingle have jaccard 0 and are never
    // enumerated), and the sample itself is CAPPED at ~SampleTarget docs
    // by the ppb threshold (see the knob scaladoc) — the threshold rides
    // a one-row broadcast cross so the plan stays fully declarative.
    // The three one-row counts ride broadcast crosses.
    "q269_lsh_recall_audit" -> ((s, d) => {
      val docs0 = Tables.documents(s, d).select(col("doc_id"))
      val thr = docs0.agg(least(
        lit(SamplePct * 10000000L),
        // exact integer ceil(SampleTarget·10⁹ / N) — no double division
        expr(s"(cast($SampleTarget as bigint) * 1000000000 + count(1) - 1) " +
          "div count(1)")).as("_thr_ppb"))
      val draw = conv(substring(md5(col("doc_id").cast("string")), 1, 12),
        16, 10).cast("long") % 1000000000L
      val sample = graft.runtime.Stage.scopedPersist(
        docs0.crossJoin(broadcast(thr))
          .filter(draw < col("_thr_ppb")).select(col("doc_id")))
      val shs = sharedShingleArrays(s, d)
        .join(sample.select(col("doc_id").as("_id")), "_id")
        .select(col("_id"), explode(col("_sa")).as("_s")).distinct()
      val tp = shs.select(col("_s"), col("_id").as("doc_a"))
        .join(shs.select(col("_s"), col("_id").as("doc_b")), "_s")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val nTrue = Dedup.jaccardOnArrays(tp, sharedShingleArrays(s, d))
        .filter(col("jaccard") >= 0.5)
        .agg(count(lit(1)).as("n_true_pairs"))
      // Sample restriction is pushed BEFORE the jaccard scoring: scoring
      // the full corpus's candidates only to keep the sample's (the old
      // form) made a solo audit pay the whole 2.5 G-row intersection join
      // (1080 s at sf10); restricting the shared CANDIDATE stage first
      // scores ~|sample-pair| rows instead. Result-identical — membership
      // comes from the band join either way and the per-pair jaccard is
      // the same function (the oracle has always used this shape).
      val nLsh = Dedup.jaccardOnArrays(
        sharedCands(s, d)
          .join(sample.select(col("doc_id").as("doc_a")), "doc_a")
          .join(sample.select(col("doc_id").as("doc_b")), "doc_b"),
        sharedShingleArrays(s, d))
        .filter(col("jaccard") >= 0.5)
        .agg(count(lit(1)).as("n_lsh_pairs"))
      sample.agg(count(lit(1)).as("n_sample_docs"))
        .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nLsh))
        .select(col("n_sample_docs"), col("n_true_pairs"), col("n_lsh_pairs"),
          when(col("n_true_pairs") === 0, lit(1.0))
            .otherwise(graft.ops.Ops.ratioHalfUp(
              col("n_lsh_pairs") * 10000L, col("n_true_pairs"), 4))
            .as("recall"))
    }),

    // Per-source data card (the quantitative half of a dataset datasheet —
    // Gebru et al., CACM 2021; Pushkarna et al. 2022): doc/token volume,
    // language spread (count + Shannon entropy over the within-source lang
    // distribution, the q95 entropy algebra), and the near-dup rate from
    // the q70 cluster resolution. One corpus scan for the per-(source,
    // lang) aggregate; the dedup labels ride the shared cluster stage; the
    // final frame is |source| rows with windows over at most |lang| terms.
    "q270_data_card" -> ((s, d) => {
      val docs = graft.ops.Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("lang"),
          size(graft.text.Tokenizer.tokens(col("text"))).cast("long").as("ntk"))
      val lc = docs
        .join(dedupClusters(s, d).select(col("doc_id"), col("is_canonical")),
          "doc_id")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"), sum(col("ntk")).as("tk"),
          sum(when(col("is_canonical"), 0L).otherwise(1L)).as("dup"))
      // Σ c·ln(c) as a deterministic left fold in lang order (the repo's
      // aggregate ↔ list_sum convention): an unordered double sum is
      // partition-order-dependent and can flip the 6th rounded decimal
      // against the oracle. |langs| per source is domain-bounded, so the
      // collected array never grows with the corpus.
      lc.groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"), sum(col("tk")).as("n_tokens"),
          count(lit(1)).as("n_langs"),
          aggregate(
            transform(array_sort(collect_list(struct(col("lang"), col("c")))),
              x => x.getField("c").cast("double")),
            lit(0.0), (acc, cv) => acc + cv * log(cv)).as("_clc"),
          sum(col("dup")).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          round(log(col("n_docs").cast("double"))
            - col("_clc") / col("n_docs"), 6).as("lang_entropy"),
          col("n_dup_docs"),
          graft.ops.Ops.ratioHalfUp(col("n_dup_docs") * 10000L,
            col("n_docs"), 4).as("dup_rate"),
          graft.ops.Ops.ratioHalfUp(col("n_tokens") * 10000L,
            col("n_docs"), 4).as("avg_tokens"))
    }),

    // Dedup savings ledger (round 9): the release-engineering numbers a
    // keep-one dedup buys, bucketed by near-dup cluster size — clusters,
    // docs, total tokens, tokens saved (everything but the canonical
    // copy), and the saved fraction per bucket. Rides q70's shared cluster
    // stage; the extra work is one token-count join plus two keyed
    // aggregates, the second over at most |clusters| rows collapsing to 5
    // bucket rows.
    "q273_dedup_savings" -> ((s, d) => {
      val ntk = graft.ops.Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          size(graft.text.Tokenizer.tokens(col("text"))).cast("long").as("ntk"))
      val per = dedupClusters(s, d).join(ntk, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("m"), sum(col("ntk")).as("ts"),
          sum(when(col("is_canonical"), col("ntk")).otherwise(0L)).as("kept"))
      per.groupBy(
        when(col("m") === 1, "1").when(col("m") === 2, "2")
          .when(col("m") <= 4, "3-4").when(col("m") <= 8, "5-8")
          .otherwise("9+").as("size_bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("m")).as("n_docs"),
          sum(col("ts")).as("tokens_total"),
          sum(col("ts") - col("kept")).as("tokens_saved"))
        .withColumn("saved_frac", graft.ops.Ops.ratioHalfUp(
          col("tokens_saved") * 10000, col("tokens_total"), 4))
    }),

    // Exact-duplicate audit (round 9): the [[sharedRepMap]] collapse as a
    // first-class report — byte-identical-text groups bucketed by
    // multiplicity, with the bytes a keep-one exact dedup saves. This is
    // the FIRST number a crawl release reports (RefinedWeb drops ~50% of
    // raw CommonCrawl on exact dedup alone, before any MinHash). On the
    // synthetic gate corpora every text is unique, so the report is the
    // all-singleton row (still hash-checked); the ScaleUp stress corpora
    // exercise the multi-copy branch (×10/×100 groups), and the ExtSpec
    // fixture pins it. One md5 groupBy + join-back + a |groups|-row
    // aggregate — dup-linear at any multiplicity.
    "q278_exact_dedup_audit" -> ((s, d) => {
      val per = sharedRepMap(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id")
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("m"), sum(col("n_chars")).as("bt"),
          sum(when(col("doc_id") === col("rep"), col("n_chars"))
            .otherwise(0L)).as("kept"))
      per.groupBy(
        when(col("m") === 1, "1").when(col("m") === 2, "2")
          .when(col("m") <= 4, "3-4").when(col("m") <= 8, "5-8")
          .otherwise("9+").as("size_bucket"))
        .agg(count(lit(1)).as("n_groups"), sum(col("m")).as("n_docs"),
          (sum(col("m")) - count(lit(1))).as("n_dup_docs"),
          sum(col("bt")).as("bytes_total"),
          sum(col("bt") - col("kept")).as("bytes_saved"))
        .withColumn("saved_frac", graft.ops.Ops.ratioHalfUp(
          col("bytes_saved") * 10000, col("bytes_total"), 4))
    }),

    // Cross-source syndication matrix (round 9; rep-level analytic rewrite
    // round 10): near-dup pairs above the q70 threshold bucketed by
    // (source, source) — the RefinedWeb-style answer to "is our duplication
    // within-source boilerplate or cross-source syndication?". The declared
    // semantics are the RAW full-corpus pair counts (the DuckDB oracle and
    // the first-principles checker both enumerate them literally), but on a
    // dup-heavy corpus enumerating them is quadratic in exact-dup
    // multiplicity (sf10 ×100 replicas: 518 s cold in r9). Exact copies
    // make the counts ANALYTIC instead: byte-identical docs carry identical
    // signatures and shingle sets, so (x∈A, y∈B) is a ≥τ dup pair iff the
    // rep pair (repA, repB) is, and every within-group pair has jaccard 1.
    // Pair counts per source bucket therefore collapse to products of
    // per-(group, source) multiplicities:
    //   within group g:  C(m_{g,s}, 2) for (s,s);  m_{g,u}·m_{g,v} for u<v
    //   across groups A≠B (rep pair scored ≥τ):  m_{A,u}·m_{B,v} into
    //     bucket (least(u,v), greatest(u,v))
    // Short (<SH-token) docs never pair (null sigs), and under `crep` they
    // are singletons contributing 0 — the multiplicity table needs no
    // separate shingleability filter. Work: the rep-level scored-pair
    // stage + two joins bounded by |groups|·|sources| rows.
    "q274_syndication_matrix" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val m = graft.runtime.Stage.scopedPersist(
        sharedRepMap(s, d).join(src, "doc_id")
          .groupBy(col("crep"), col("source")).agg(count(lit(1)).as("_m")))
      val ma = m.select(col("crep").as("_ga"), col("source").as("_sa"),
        col("_m").as("_ma"))
      val mb = m.select(col("crep").as("_gb"), col("source").as("_sb"),
        col("_m").as("_mb"))
      val within = ma.join(mb,
          col("_ga") === col("_gb") && col("_sa") <= col("_sb"))
        .select(col("_sa").as("src_lo"), col("_sb").as("src_hi"),
          when(col("_sa") === col("_sb"),
            expr("_ma * (_ma - 1) div 2")).otherwise(col("_ma") * col("_mb"))
            .as("_n"))
      val cross = repScoredPairs(s, d).filter(col("jaccard") >= 0.5)
        .join(ma.withColumnRenamed("_ga", "doc_a"), "doc_a")
        .join(mb.withColumnRenamed("_gb", "doc_b"), "doc_b")
        .select(least(col("_sa"), col("_sb")).as("src_lo"),
          greatest(col("_sa"), col("_sb")).as("src_hi"),
          (col("_ma") * col("_mb")).as("_n"))
      within.unionByName(cross).filter(col("_n") > 0)
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(sum(col("_n")).as("n_pairs"))
    }),

    // MinHash-ESTIMATE screening (round 10): candidate pairs scored by
    // signature agreement — the fraction of the NH minhashes that match,
    // whose expectation IS the jaccard (Broder '97) — instead of the exact
    // shingle-intersection join. This is the screening-grade scorer a
    // crawl-scale dedup runs when even the candidate jaccard stage
    // dominates (the near-dup-dense profile: the nd stress tier prices
    // q26's exact scoring at 321 s cold at sf10nd; this lane's pair work
    // is one ROW-LOCAL 8-slot array comparison — no second explode join,
    // no shingle shuffle). Approximate BY CONTRACT (8 hashes → estimate
    // granularity 1/8); exact-jaccard lanes remain the adjudicating
    // semantics. est = k/8 is an exact binary fraction, so the round(6)
    // is bit-stable across engines.
    "q279_minhash_estimate" -> ((s, d) => estimatePairs(s, d)),

    // Estimate-based dedup clusters (round 10): the END-TO-END cheap
    // screening path — bands → slot-agreement estimate ≥ τ → connected
    // components — with NO shingle-intersection join anywhere. This is
    // what a first-pass crawl triage runs before (or instead of) the
    // exact-jaccard cluster stage: per-pair cost is the 8-slot
    // comparison, so the whole pipeline is candidate-linear. The
    // semantics are DECLARED approximate (agreement quantizes jaccard to
    // eighths, so borderline pairs flip vs q70); both the oracle and the
    // union-find checker compute the same estimate edges, so the lane is
    // still bit-checked end to end.
    "q280_estimate_clusters" -> ((s, d) => estimateClusters(s, d)),

    // Star-candidate EXACT dedup clusters (round 11, VERDICT r10 task 1):
    // the sub-quadratic exact cluster stage for the near-dup-dense
    // profile. Candidates are per-band STAR edges (bucket-min hub → each
    // member, ≤ numBands·N total — Dedup.lshStarCandidates) instead of the
    // full C(m,2) bucket pairs; scoring is the SAME exact shingle jaccard
    // and threshold as q70, so the result refines q70's clusters (edge
    // subgraph ⇒ split-only deviation, never a merge; identity under
    // τ-homogeneous buckets). q70 remains the adjudicating pair-complete
    // semantics; this lane is the posture a crawl-scale exact pass runs
    // when the pair-complete candidate stage is group-quadratic (sf10nd:
    // q70 434 s vs this lane's candidate-linear stage).
    "q281_star_dedup_clusters" -> ((s, d) => starClusters(s, d)),

    // The h=2 point of the star recall dial (round 11): every bucket
    // member links to the TWO smallest bucket ids. Candidate volume ×2,
    // still candidate-linear; recovers most of h=1's splits on the nd
    // stress corpus (SCALE.md table). Refinement order is proved and
    // pinned: q281 ⊑ q285 ⊑ q70 (more hubs only ADD edges, so clusters
    // only coarsen toward the pair-complete limit, never cross it).
    "q285_star2_dedup_clusters" -> ((s, d) => starClusters(s, d, numHubs = 2)),

    // Star + detached-member RESCUE wave (round 12, VERDICT r11 task 1):
    // members whose hub edge failed τ re-probe their co-bucket members —
    // candidate volume proportional to the FAILURE count (zero on
    // τ-homogeneous buckets), and the union of star + rescue edges has
    // provably IDENTICAL connectivity to the pair-complete graph (see
    // Dedup.lshStarRescueCandidates's exactness theorem, pinned in
    // ExtSpec and recomputed by check_q286). This retires the density-
    // scaling deviation of q281/q285: exact q70 cluster semantics at
    // candidate-linear + failure-proportional cost.
    "q286_star_rescue_clusters" -> ((s, d) => starRescueClusters(s, d)),

    // Incremental EXACT near-dup clustering (round 13, VERDICT r12 task
    // 3): the q263 ingestion posture upgraded from an is-new screen to
    // full cluster semantics — base labels + batch star/rescue edges +
    // asymmetric cross probe + touched-cluster merge, bit-identical to
    // the exact union dedup by the delta-posture theorem (see
    // incrementalClusters). The oracle is deliberately the UNION
    // semantics (q286's chain + is_incoming), so the gate hash-verifies
    // the theorem end-to-end every run; check_q288 recomputes the
    // incremental construction itself.
    "q288_incremental_clusters" -> ((s, d) => incrementalClusters(s, d)),

    // Estimate-tier savings ledger (round 11, VERDICT r10 task 6): q273's
    // exact report re-based on q280's estimate clusters — the keep-one
    // savings numbers the CHEAP screening path yields end-to-end, with no
    // shingle-intersection join anywhere (per-pair cost = the 8-slot
    // agreement). Approximate by q280's declared contract; the exact q273
    // remains the adjudicating ledger.
    "q282_estimate_savings" -> ((s, d) => {
      val ntk = graft.ops.Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          size(graft.text.Tokenizer.tokens(col("text"))).cast("long").as("ntk"))
      val per = estimateClusters(s, d).join(ntk, "doc_id")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("m"), sum(col("ntk")).as("ts"),
          sum(when(col("is_canonical"), col("ntk")).otherwise(0L)).as("kept"))
      per.groupBy(
        when(col("m") === 1, "1").when(col("m") === 2, "2")
          .when(col("m") <= 4, "3-4").when(col("m") <= 8, "5-8")
          .otherwise("9+").as("size_bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("m")).as("n_docs"),
          sum(col("ts")).as("tokens_total"),
          sum(col("ts") - col("kept")).as("tokens_saved"))
        .withColumn("saved_frac", graft.ops.Ops.ratioHalfUp(
          col("tokens_saved") * 10000, col("tokens_total"), 4))
    }),

    // Estimate-tier data card (round 11, task 6's second half): q270's
    // per-source card with the dup-rate column fed by q280's estimate
    // clusters — the complete first-pass triage report (volume, language
    // spread, near-dup rate) at screening cost.
    "q283_estimate_data_card" -> ((s, d) => {
      val docs = graft.ops.Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("source"), col("lang"),
          size(graft.text.Tokenizer.tokens(col("text"))).cast("long").as("ntk"))
      val lc = docs
        .join(estimateClusters(s, d).select(col("doc_id"), col("is_canonical")),
          "doc_id")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"), sum(col("ntk")).as("tk"),
          sum(when(col("is_canonical"), 0L).otherwise(1L)).as("dup"))
      lc.groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"), sum(col("tk")).as("n_tokens"),
          count(lit(1)).as("n_langs"),
          aggregate(
            transform(array_sort(collect_list(struct(col("lang"), col("c")))),
              x => x.getField("c").cast("double")),
            lit(0.0), (acc, cv) => acc + cv * log(cv)).as("_clc"),
          sum(col("dup")).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_langs"),
          round(log(col("n_docs").cast("double"))
            - col("_clc") / col("n_docs"), 6).as("lang_entropy"),
          col("n_dup_docs"),
          graft.ops.Ops.ratioHalfUp(col("n_dup_docs") * 10000L,
            col("n_docs"), 4).as("dup_rate"),
          graft.ops.Ops.ratioHalfUp(col("n_tokens") * 10000L,
            col("n_docs"), 4).as("avg_tokens"))
    }),

    // n-gram Jaccard on a deterministic pair set (consecutive doc ids) —
    // exercises the exact-similarity operator on guaranteed-nonempty input.
    "q27_ngram_jaccard" -> ((s, d) => {
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val pairs = ids.select(col("doc_id").as("doc_a"))
        .join(ids.select(col("doc_id").as("doc_b")),
          col("doc_b") === col("doc_a") + 1)
      Dedup.jaccardOnArrays(pairs, sharedShingleArrays(s, d))
    }),

    // SimHash fingerprints (UDF bit arithmetic; oracle reproduces the md5
    // bit votes with hex-digit arithmetic + BIGINT shifts).
    "q28_simhash" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        Dedup.simhashUdf(col("text")).as("simhash"))),

    "q29_embed_norm" -> ((s, d) =>
      Tables.embeddings(s, d).select(col("vec_id"),
        round(Ann.normCol(col("embedding")), 6).as("l2_norm"), col("label"))),

    "q30_ann_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Ann.bruteForceTopK(e.filter(col("vec_id") < 10), e.filter(col("vec_id") >= 10), 5)
    }),

    "q31_lsh_buckets" -> ((s, d) =>
      Ann.lshBuckets(Tables.embeddings(s, d), PLANES, DIM)),

    "q32_lsh_ann_pairs" -> ((s, d) =>
      Ann.lshPairs(Tables.embeddings(s, d), PLANES, DIM)),

    "q33_lang_id" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("predicted_lang"))),

    "q34_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    "q35_multimodal" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.documentBlobs(s, d)).toDF()),

    // Frame sampling: binary blob → n frame rows (generator-shaped media
    // op; stubbed decode, real fan-out/offset/schema plumbing).
    "q61_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.documentBlobs(s, d), 3).toDF()),

    // Structured Streaming daily click counts (tumbling 1-day window +
    // watermark, memory sink driven to completion) — hash-checked against
    // the same batch oracle. The ingested count table is shared with q51's
    // ranking (one streaming run, two consumers).
    "q36_streaming_hot" -> ((s, d) =>
      graft.streaming.StreamingHotTopics.sharedDailyClickCounts(s, d)),

    // Stateful streaming (mapGroupsWithState) per-user click profiles —
    // hash-checked against the batch-equivalent oracle.
    "q41_streaming_profiles" -> ((s, d) =>
      graft.streaming.StreamingUserProfiles.userClickProfiles(s, d)),

    // Streaming exact dedup: first-seen (user, news, day) exposures via
    // dropDuplicates state + watermark, aggregated per day — hash-checked
    // against the batch DISTINCT oracle.
    "q64_streaming_dedup" -> ((s, d) =>
      graft.streaming.StreamingDedup.dailyExposures(s, d)),

    // Stream-stream interval join (click attribution): each click joins the
    // same user's views in the preceding hour, watermarks bounding both
    // sides' state — hash-checked against the batch theta-join oracle.
    "q66_interval_join" -> ((s, d) =>
      graft.streaming.StreamingIntervalJoin.attributedClicks(s, d)),

    // flatMapGroupsWithState: per-user daily click counts with running
    // cumulative totals (multi-row emission per group per batch) —
    // hash-checked against the batch window running sum.
    "q69_streaming_cume" -> ((s, d) =>
      graft.streaming.StreamingClickCume.dailyCumulative(s, d)),

    // Token budgeting: whitespace tokens + a BPE-ish subword estimate
    // (ceil(len/4) units per word — deterministic stand-in for a real BPE
    // vocab, which isn't expressible cross-engine).
    "q42_token_budget" -> ((s, d) => {
      val toks = graft.text.Tokenizer.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("ws_tokens"),
        aggregate(toks, lit(0L),
          (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long")).as("subword_tokens"),
        col("n_chars"))
    }),

    // Sequence packing for training: assign documents (in a deterministic
    // corpus order) to fixed token-budget bins by running token offset —
    // the window-algebra form of document concatenation (bin = which 2048-
    // token context the doc STARTS in). The global running offset is a
    // single-partition window here (exact contract); the 100 TB form is the
    // standard two-pass prefix sum — per-partition token totals to the
    // driver (one long per partition), then a partition-offset broadcast.
    "q65_pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = graft.text.Tokenizer.tokens(col("text"))
      val w = Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"),
          aggregate(toks, lit(0L),
            (acc, x) => acc + ceil(length(x) / lit(4.0)).cast("long")).as("n_tok"))
        .withColumn("end_off", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("n_tok"),
          (col("end_off") - col("n_tok")).as("start_off"),
          (((col("end_off") - col("n_tok")) / 2048).cast("long")).as("bin"))
    }),

    // Embedding-cosine near-duplicates: LSH-bucketed pairs above threshold
    // (0.3 ~ the 99.9th percentile of this random corpus; a real corpus
    // would use ~0.95).
    "q43_embed_neardup" -> ((s, d) =>
      Ann.lshPairs(Tables.embeddings(s, d), PLANES, DIM)
        .filter(col("cosine") >= 0.3)
        .select(col("a_id"), col("b_id"), col("cosine"))),

    // IVF coarse quantization: nearest-centroid cell assignment (centroids =
    // a deterministic seed set so the oracle reproduces them; at scale they
    // come from sampled k-means).
    "q44_ivf_cells" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Ann.ivfAssign(e, cent)
    }),

    // IVF ANN: probe the 2 nearest cells per query, rank in-cell candidates
    // by cosine — the O(Q·N/nlist) scale path next to q30's exact scan.
    "q45_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      Ann.ivfTopK(
        e.filter(col("vec_id").between(8, 17)),
        e.filter(col("vec_id") >= 18),
        cent, nprobe = 2, k = 3)
    }),

    // PQ encoding: per-subspace nearest-codeword compression (codebooks =
    // sub-slices of the first 16 vectors, the deterministic stand-in for a
    // sampled per-subspace k-means).
    "q67_pq_codes" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = Ann.pqCodebooks(e.filter(col("vec_id") < 16), 8, DIM)
      Ann.pqEncode(e, cb, 8, DIM)
    }),

    // PQ ANN via asymmetric distance: exact query sub-vectors against
    // candidates' codes only — the memory-compressed scale path next to
    // q45's IVF and q30's exact scan.
    "q68_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = Ann.pqCodebooks(e.filter(col("vec_id") < 16), 8, DIM)
      Ann.pqTopK(
        e.filter(col("vec_id").between(16, 25)),
        e.filter(col("vec_id") >= 26),
        cb, 8, DIM, k = 3)
    }),

    // F6 weighted fuzzy-overlap cosine (CosineSimilarity.compute) over
    // consecutive-doc TF-IDF keyword profiles.
    "q37_sim_weighted" -> ((s, d) => {
      val kw = docKeywords(s, d)
      val nested = kw.groupBy(col("id"))
        .agg(collect_list(struct(col("word"), col("value"))).as("keywords"))
      val a = nested.select(col("id").as("doc_a"), col("keywords").as("_ka"))
      val b = nested.select(col("id").as("doc_b"), col("keywords").as("_kb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .withColumn("sim",
          round(graft.sim.Similarities.computeUdf(col("_ka"), col("_kb")), 6))
        .select("doc_a", "doc_b", "sim")
    }),

    // F7/F9/F10/F12 rank-based similarity family (computeBoolean,
    // rankDistance + calculateMax normalization, rankMatchScore) over the
    // rank-ordered keyword word lists. Keyword lists are DISTINCT words, so
    // the reference's order-dependent bookkeeping collapses to closed forms
    // the DuckDB oracle reproduces exactly (integer arithmetic throughout).
    "q38_rank_sim" -> ((s, d) => {
      val kw = docKeywords(s, d)
      val words = kw.groupBy(col("id"))
        .agg(transform(
          array_sort(collect_list(struct(col("rn"), col("word")))),
          x => x("word")).as("words"))
      val a = words.select(col("id").as("doc_a"), col("words").as("_wa"))
      val b = words.select(col("id").as("doc_b"), col("words").as("_wb"))
      // direct object calls — a captured local alias would drag the whole
      // (non-serializable) object into the closure
      val rdMax = udf((x: Seq[String], y: Seq[String]) =>
        graft.sim.Similarities.rankDistanceMax(x.size, y.size))
      val rms = udf((x: Seq[String], y: Seq[String]) =>
        graft.sim.Similarities.rankMatchScore(x, y, x.size, y.size))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          round(graft.sim.Similarities.computeBooleanUdf(col("_wa"), col("_wb")), 6).as("f7_boolean"),
          graft.sim.Similarities.rankDistanceUdf(col("_wa"), col("_wb")).as("f9_rank_distance"),
          rdMax(col("_wa"), col("_wb")).as("f12_max"),
          rms(col("_wa"), col("_wb")).as("f10_match_score"))
    })
  )

  /** Per-doc TF-IDF top-8 keywords (id, word, value, rn) — one shared
    * materialization for the similarity-variant queries (q37, q38); weights
    * rounded 6 as everywhere.
    */
  private[queries] def docKeywords(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"doc-kw8:$d") {
      graft.runtime.Stage.persistShared(
        graft.text.TfIdf.topKeywords(graft.ops.Ops.fanOut(Tables.documents(s, d)), "doc_id",
          Seq(col("text") -> 1.0), k = 8, roundTo = 6)
          .select(col("doc_id").as("id"), col("word"), col("score").as("value"), col("rn")))
    }

  // ---- DuckDB oracles ----

  private val toks = "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> len(w) > 0)"
  private def shingleExpr(t: String): String =
    s"CASE WHEN len($t) < $SH THEN [] ELSE list_transform(range(1, len($t) - ${SH - 2}), si -> array_to_string(($t)[si:si+${SH - 1}], ' ')) END"

  private val sigSelect = (0 until NH).map { i =>
    val seed = i / 2
    val off = if (i % 2 == 0) 1 else 17
    s"list_min(list_transform(sh, ss -> substr(md5('${seed}_' || ss), $off, 16))) AS sig$i"
  }.mkString(", ")

  private val shCte =
    s"""docsh AS (SELECT doc_id, ${shingleExpr(toks)} AS sh FROM documents),
       |shex AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM docsh),
       |shsize AS (SELECT doc_id, count(*) AS n FROM shex GROUP BY 1)""".stripMargin

  /** [[jaccardTail]]'s SELECT as a nestable subquery body (for use inside a
    * CTE): same inter/size joins, but the `inter` computation is inlined.
    */
  private def jaccardCte(pairsCte: String): String =
    s"""SELECT p.doc_a, p.doc_b,
       |  round(CAST(coalesce(i.i, 0) AS DOUBLE)
       |    / (na.n + nb.n - coalesce(i.i, 0)), 6) AS jaccard
       |FROM $pairsCte p
       |LEFT JOIN (
       |  SELECT p2.doc_a, p2.doc_b, count(*) AS i
       |  FROM $pairsCte p2
       |  JOIN shex sa ON sa.doc_id = p2.doc_a
       |  JOIN shex sb ON sb.doc_id = p2.doc_b AND sb.s = sa.s
       |  GROUP BY p2.doc_a, p2.doc_b) i
       |  ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN shsize na ON na.doc_id = p.doc_a
       |JOIN shsize nb ON nb.doc_id = p.doc_b""".stripMargin

  private def jaccardTail(pairsCte: String): String =
    s"""inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS i
       |  FROM $pairsCte p
       |  JOIN shex sa ON sa.doc_id = p.doc_a
       |  JOIN shex sb ON sb.doc_id = p.doc_b AND sb.s = sa.s
       |  GROUP BY p.doc_a, p.doc_b)
       |SELECT p.doc_a, p.doc_b,
       |  round(CAST(coalesce(i.i, 0) AS DOUBLE)
       |    / (na.n + nb.n - coalesce(i.i, 0)), 6) AS jaccard
       |FROM $pairsCte p
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN shsize na ON na.doc_id = p.doc_a
       |JOIN shsize nb ON nb.doc_id = p.doc_b""".stripMargin

  private val bandKeyCase = (0 until NH / BAND).map(b =>
    s"WHEN ${b} THEN sig${2 * b} || sig${2 * b + 1}").mkString(" ")

  /** The LSH → jaccard → threshold → transitive-closure chain behind q70's
    * cluster labels, shared with the q98 keep-one ledger. Must appear under
    * `WITH RECURSIVE`; ends with `lab(id, mn)`.
    */
  private lazy val clusterChain =
    s"""$shCte,
       |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
       |  FROM sigs, range(${NH / BAND}) t(b)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
       |  WHERE x.doc_id < y.doc_id),
       |scored AS (${jaccardCte("pairs")}),
       |dup AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
       |          UNION SELECT doc_b, doc_a FROM dup),
       |reach AS (
       |  SELECT a AS id, b AS r FROM edges
       |  UNION
       |  SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r),
       |lab AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)""".stripMargin

  /** q280's chain: [[clusterChain]] with the exact-jaccard scoring
    * replaced by the signature-agreement estimate (>= 4 of 8 slots).
    * Ends with `elab(id, mn)`.
    */
  private lazy val estClusterChain =
    s"""$shCte,
       |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
       |  FROM sigs, range(${NH / BAND}) t(b)),
       |cpairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
       |  WHERE x.doc_id < y.doc_id),
       |edup AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM cpairs p JOIN sigs a ON a.doc_id = p.doc_a
       |  JOIN sigs b ON b.doc_id = p.doc_b
       |  WHERE (${(0 until NH).map(i =>
            s"CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END")
            .mkString(" + ")}) / ${NH}.0 >= 0.5),
       |eedges AS (SELECT doc_a AS a, doc_b AS b FROM edup
       |           UNION SELECT doc_b, doc_a FROM edup),
       |ereach AS (
       |  SELECT a AS id, b AS r FROM eedges
       |  UNION
       |  SELECT re.id, e.b FROM ereach re JOIN eedges e ON e.a = re.r),
       |elab AS (SELECT id, min(r) AS mn FROM ereach GROUP BY id)""".stripMargin

  /** q281's chain: [[clusterChain]] with the pair-complete candidate CTE
    * replaced by per-band STAR edges (bucket-min hub → member), same exact
    * jaccard scoring and τ. Ends with `stlab(id, mn)`.
    */
  private lazy val starClusterChain =
    s"""$shCte,
       |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
       |  FROM sigs, range(${NH / BAND}) t(b)),
       |hubs AS (SELECT b, key, min(doc_id) AS hub FROM bands GROUP BY b, key),
       |spairs AS (
       |  SELECT DISTINCT h.hub AS doc_a, x.doc_id AS doc_b
       |  FROM bands x JOIN hubs h ON h.b = x.b AND h.key = x.key
       |  WHERE x.doc_id > h.hub),
       |stscored AS (${jaccardCte("spairs")}),
       |stdup AS (SELECT doc_a, doc_b FROM stscored WHERE jaccard >= 0.5),
       |stedges AS (SELECT doc_a AS a, doc_b AS b FROM stdup
       |            UNION SELECT doc_b, doc_a FROM stdup),
       |streach AS (
       |  SELECT a AS id, b AS r FROM stedges
       |  UNION
       |  SELECT re.id, e.b FROM streach re JOIN stedges e ON e.a = re.r),
       |stlab AS (SELECT id, min(r) AS mn FROM streach GROUP BY id)""".stripMargin

  /** q285's chain: [[starClusterChain]] with h=2 hubs (the two smallest
    * ids per bucket, via row_number). Ends with `s2lab(id, mn)`.
    */
  private lazy val star2ClusterChain =
    s"""$shCte,
       |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
       |  FROM sigs, range(${NH / BAND}) t(b)),
       |hubs2 AS (
       |  SELECT b, key, doc_id AS hub FROM (
       |    SELECT b, key, doc_id,
       |      row_number() OVER (PARTITION BY b, key ORDER BY doc_id) AS hr
       |    FROM bands) t WHERE hr <= 2),
       |spairs2 AS (
       |  SELECT DISTINCT h.hub AS doc_a, x.doc_id AS doc_b
       |  FROM bands x JOIN hubs2 h ON h.b = x.b AND h.key = x.key
       |  WHERE x.doc_id > h.hub),
       |s2scored AS (${jaccardCte("spairs2")}),
       |s2dup AS (SELECT doc_a, doc_b FROM s2scored WHERE jaccard >= 0.5),
       |s2edges AS (SELECT doc_a AS a, doc_b AS b FROM s2dup
       |            UNION SELECT doc_b, doc_a FROM s2dup),
       |s2reach AS (
       |  SELECT a AS id, b AS r FROM s2edges
       |  UNION
       |  SELECT re.id, e.b FROM s2reach re JOIN s2edges e ON e.a = re.r),
       |s2lab AS (SELECT id, min(r) AS mn FROM s2reach GROUP BY id)""".stripMargin

  /** q286's chain: [[starClusterChain]] plus the detached-member RESCUE
    * wave — a member whose hub edge failed re-probes THAT bucket's
    * non-hub members; star ∪ rescue edges feed the same transitive
    * closure. By the exactness theorem on
    * [[Dedup.lshStarRescueCandidates]] this computes q70's labels. The
    * engine-side size prefilter is deliberately absent here (it is
    * output-invariant, so the hash compare cross-validates it).
    * Ends with `rslab(id, mn)`.
    */
  private lazy val starRescueChain =
    s"""$shCte,
       |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
       |  FROM sigs, range(${NH / BAND}) t(b)),
       |hubs AS (SELECT b, key, min(doc_id) AS hub FROM bands GROUP BY b, key),
       |spairs AS (
       |  SELECT DISTINCT h.hub AS doc_a, x.doc_id AS doc_b
       |  FROM bands x JOIN hubs h ON h.b = x.b AND h.key = x.key
       |  WHERE x.doc_id > h.hub),
       |stscored AS (${jaccardCte("spairs")}),
       |stfail AS (SELECT doc_a, doc_b FROM stscored WHERE jaccard < 0.5),
       |fbands AS (
       |  SELECT fb.doc_id, fb.b, fb.key
       |  FROM bands fb
       |  JOIN hubs fh ON fh.b = fb.b AND fh.key = fb.key
       |  JOIN stfail f ON f.doc_a = fh.hub AND f.doc_b = fb.doc_id),
       |rpairs AS (
       |  SELECT DISTINCT least(fb.doc_id, x.doc_id) AS doc_a,
       |                  greatest(fb.doc_id, x.doc_id) AS doc_b
       |  FROM fbands fb
       |  JOIN bands x ON x.b = fb.b AND x.key = fb.key
       |  JOIN hubs h ON h.b = fb.b AND h.key = fb.key
       |  WHERE x.doc_id <> fb.doc_id AND x.doc_id <> h.hub),
       |rscored AS (${jaccardCte("rpairs")}),
       |rsdup AS (
       |  SELECT doc_a, doc_b FROM stscored WHERE jaccard >= 0.5
       |  UNION
       |  SELECT doc_a, doc_b FROM rscored WHERE jaccard >= 0.5),
       |rsedges AS (SELECT doc_a AS a, doc_b AS b FROM rsdup
       |            UNION SELECT doc_b, doc_a FROM rsdup),
       |rsreach AS (
       |  SELECT a AS id, b AS r FROM rsedges
       |  UNION
       |  SELECT re.id, e.b FROM rsreach re JOIN rsedges e ON e.a = re.r),
       |rslab AS (SELECT id, min(r) AS mn FROM rsreach GROUP BY id)""".stripMargin

  private def projExpr(j: Int): String =
    s"list_sum(list_transform(range($DIM), pi -> (CASE WHEN substr(md5('${j}_' || pi::VARCHAR), 1, 1) <= '7' THEN 1.0 ELSE -1.0 END) * CAST(embedding[pi+1] AS DOUBLE)))"

  private val bucketExpr = "concat(" + (0 until PLANES).map(j =>
    s"CASE WHEN ${projExpr(j)} >= 0 THEN '1' ELSE '0' END").mkString(", ") + ")"

  private val dotList =
    "list_sum(list_transform(list_zip(qe, ce), zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))"
  private[queries] def dist2List(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), dp -> " +
      "(CAST(dp[1] AS DOUBLE) - CAST(dp[2] AS DOUBLE)) * (CAST(dp[1] AS DOUBLE) - CAST(dp[2] AS DOUBLE))))"
  private def normList(c: String): String =
    s"sqrt(list_sum(list_transform($c, nx -> CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE))))"

  /** q262's split draw in DuckDB terms: first 6 hex digits of
    * md5(doc_id::VARCHAR) as BIGINT (the q153/q262 hex-digit idiom) —
    * q268 reuses the split rule verbatim so its leakage audit and the
    * split manifest agree on every document.
    */
  private val splitHex6: String = (1 to 6).map { i =>
    s"(CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1 AS BIGINT) * ${math.pow(16, 6 - i).toLong})"
  }.mkString(" + ")

  /** q269's audit-sample draw: first 12 hex digits of md5(doc_id) as
    * BIGINT (16¹² ≈ 2.8·10¹⁴ — comfortably inside int64), same digit-sum
    * idiom as [[splitHex6]]. 12 digits give the ppb granularity the
    * fixed-ABSOLUTE sample cap needs (a percent- or ppm-grained draw
    * re-grows with the corpus; see the SampleTarget scaladoc).
    */
  private val sampleHex12: String = (1 to 12).map { i =>
    s"(CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1 AS BIGINT) * ${(1L to (12 - i).toLong).foldLeft(1L)((a, _) => a * 16L)})"
  }.mkString(" + ")

  private val markerScores = TextAnalysis.markers.keys.toSeq.sorted.map { l =>
    val lst = TextAnalysis.markers(l).map(w => s"'$w'").mkString("(", ",", ")")
    s"len(list_filter($toks, mw -> mw IN $lst)) AS n_$l"
  }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "q25_minhash_sig" ->
      s"""WITH docsh AS (SELECT doc_id, ${shingleExpr(toks)} AS sh FROM documents)
         |SELECT doc_id, $sigSelect FROM docsh""".stripMargin,

    "q26_lsh_pairs" ->
      s"""WITH $shCte,
         |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
         |bands AS (
         |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
         |  FROM sigs, range(${NH / BAND}) t(b)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id),
         |${jaccardTail("pairs")}""".stripMargin,

    "q263_incremental_dedup" ->
      s"""WITH $shCte,
         |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
         |bands AS (
         |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
         |  FROM sigs, range(${NH / BAND}) t(b)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
         |  WHERE x.doc_id % 10 = 9 AND y.doc_id % 10 <> 9),
         |scored AS (${jaccardCte("pairs")}),
         |agg AS (
         |  SELECT doc_a AS doc_id, count(*) AS n_cands,
         |    max(jaccard) AS best_jaccard
         |  FROM scored GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_cands, 0) AS n_cands, a.best_jaccard,
         |  (a.best_jaccard IS NULL OR a.best_jaccard < 0.5) AS is_new
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
         |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q268_split_leakage" ->
      s"""WITH $shCte,
         |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
         |bands AS (
         |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
         |  FROM sigs, range(${NH / BAND}) t(b)),
         |pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id),
         |scored AS (${jaccardCte("pairs")}),
         |dup AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN bk < ${SplitDraw.TrainLt} THEN 'train'
         |      WHEN bk < ${SplitDraw.ValLt} THEN 'val' ELSE 'test' END AS sp,
         |    CASE WHEN bk < ${SplitDraw.TrainLt} THEN 0
         |      WHEN bk < ${SplitDraw.ValLt} THEN 1 ELSE 2 END AS r
         |  FROM (SELECT doc_id, ($splitHex6) % ${SplitDraw.Mod} AS bk FROM documents)),
         |x AS (
         |  SELECT CASE WHEN a.r <= b.r THEN a.sp ELSE b.sp END AS split_lo,
         |    CASE WHEN a.r <= b.r THEN b.sp ELSE a.sp END AS split_hi,
         |    CASE WHEN a.r <= b.r THEN p.doc_b ELSE p.doc_a END AS leaked
         |  FROM dup p JOIN sp a ON a.doc_id = p.doc_a
         |    JOIN sp b ON b.doc_id = p.doc_b
         |  WHERE a.sp <> b.sp)
         |SELECT split_lo, split_hi, count(*) AS n_pairs,
         |  CAST(count(DISTINCT leaked) AS BIGINT) AS n_leaked_docs
         |FROM x GROUP BY 1, 2""".stripMargin,

    "q269_lsh_recall_audit" ->
      s"""WITH $shCte,
         |thr AS (SELECT least($SamplePct * 10000000,
         |  (CAST($SampleTarget AS BIGINT) * 1000000000 + count(*) - 1)
         |    // count(*)) AS t FROM documents),
         |sample AS (SELECT doc_id FROM documents
         |  WHERE ($sampleHex12) % 1000000000 < (SELECT t FROM thr)),
         |shsam AS (SELECT e.doc_id, e.s FROM shex e JOIN sample USING (doc_id)),
         |tpairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM shsam x JOIN shsam y ON x.s = y.s AND x.doc_id < y.doc_id),
         |tscore AS (${jaccardCte("tpairs")}),
         |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
         |bands AS (
         |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
         |  FROM sigs, range(${NH / BAND}) t(b)),
         |lpairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id
         |    AND x.doc_id IN (SELECT doc_id FROM sample)
         |    AND y.doc_id IN (SELECT doc_id FROM sample)),
         |lscore AS (${jaccardCte("lpairs")}),
         |agg AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM sample) AS n_sample_docs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM tscore WHERE jaccard >= 0.5)
         |      AS n_true_pairs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM lscore WHERE jaccard >= 0.5)
         |      AS n_lsh_pairs)
         |SELECT n_sample_docs, n_true_pairs, n_lsh_pairs,
         |  CASE WHEN n_true_pairs = 0 THEN CAST(1.0 AS DOUBLE)
         |    ELSE ${SqlFragments.ratioHalfUpSql("n_lsh_pairs * 10000", "n_true_pairs", 4)}
         |  END AS recall
         |FROM agg""".stripMargin,

    "q270_data_card" ->
      s"""WITH RECURSIVE $clusterChain,
         |res AS (
         |  SELECT d.doc_id, d.source, d.lang, len($toks) AS ntk,
         |    coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_can
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
         |lc AS (
         |  SELECT source, lang, count(*) AS c, CAST(sum(ntk) AS BIGINT) AS tk,
         |    sum(CASE WHEN is_can THEN 0 ELSE 1 END) AS dup
         |  FROM res GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(sum(tk) AS BIGINT) AS n_tokens, count(*) AS n_langs,
         |  round(ln(CAST(sum(c) AS DOUBLE))
         |    - list_sum(list_transform(list(CAST(c AS DOUBLE) ORDER BY lang),
         |        cv -> cv * ln(cv))) / sum(c), 6)
         |    AS lang_entropy,
         |  CAST(sum(dup) AS BIGINT) AS n_dup_docs,
         |  ${SqlFragments.ratioHalfUpSql("sum(dup) * 10000", "sum(c)", 4)} AS dup_rate,
         |  ${SqlFragments.ratioHalfUpSql("sum(tk) * 10000", "sum(c)", 4)} AS avg_tokens
         |FROM lc GROUP BY 1""".stripMargin,

    "q273_dedup_savings" ->
      s"""WITH RECURSIVE $clusterChain,
         |res AS (
         |  SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |    coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_can,
         |    len($toks) AS ntk
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
         |per AS (
         |  SELECT cluster, count(*) AS m, CAST(sum(ntk) AS BIGINT) AS ts,
         |    CAST(sum(CASE WHEN is_can THEN ntk ELSE 0 END) AS BIGINT) AS kept
         |  FROM res GROUP BY 1)
         |SELECT CASE WHEN m = 1 THEN '1' WHEN m = 2 THEN '2'
         |    WHEN m <= 4 THEN '3-4' WHEN m <= 8 THEN '5-8'
         |    ELSE '9+' END AS size_bucket,
         |  count(*) AS n_clusters, CAST(sum(m) AS BIGINT) AS n_docs,
         |  CAST(sum(ts) AS BIGINT) AS tokens_total,
         |  CAST(sum(ts - kept) AS BIGINT) AS tokens_saved,
         |  ${SqlFragments.ratioHalfUpSql("sum(ts - kept) * 10000", "sum(ts)", 4)}
         |    AS saved_frac
         |FROM per GROUP BY 1""".stripMargin,

    // q278: the oracle groups by the text itself — the same partition the
    // engine's md5(text) key induces (a hash collision would be a
    // deterministic, astronomically unlikely corpus property, not an
    // engine divergence).
    "q278_exact_dedup_audit" ->
      s"""WITH g AS (
         |  SELECT min(doc_id) AS rep, count(*) AS m,
         |    CAST(sum(n_chars) AS BIGINT) AS bt,
         |    CAST(min_by(n_chars, doc_id) AS BIGINT) AS kept
         |  FROM documents GROUP BY text)
         |SELECT CASE WHEN m = 1 THEN '1' WHEN m = 2 THEN '2'
         |    WHEN m <= 4 THEN '3-4' WHEN m <= 8 THEN '5-8'
         |    ELSE '9+' END AS size_bucket,
         |  count(*) AS n_groups, CAST(sum(m) AS BIGINT) AS n_docs,
         |  CAST(sum(m) - count(*) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(bt) AS BIGINT) AS bytes_total,
         |  CAST(sum(bt - kept) AS BIGINT) AS bytes_saved,
         |  ${SqlFragments.ratioHalfUpSql("sum(bt - kept) * 10000", "sum(bt)", 4)}
         |    AS saved_frac
         |FROM g GROUP BY 1""".stripMargin,

    "q274_syndication_matrix" ->
      s"""WITH $shCte,
         |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
         |bands AS (
         |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
         |  FROM sigs, range(${NH / BAND}) t(b)),
         |cpairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id),
         |scored AS (${jaccardCte("cpairs")}),
         |dup AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= 0.5),
         |m AS (
         |  SELECT least(da.source, db.source) AS src_lo,
         |    greatest(da.source, db.source) AS src_hi
         |  FROM dup JOIN documents da ON da.doc_id = dup.doc_a
         |  JOIN documents db ON db.doc_id = dup.doc_b)
         |SELECT src_lo, src_hi, count(*) AS n_pairs FROM m GROUP BY 1, 2""".stripMargin,

    "q279_minhash_estimate" ->
      s"""WITH $shCte,
         |sigs AS (SELECT doc_id, $sigSelect FROM docsh),
         |bands AS (
         |  SELECT doc_id, b, CASE b $bandKeyCase END AS key
         |  FROM sigs, range(${NH / BAND}) t(b)),
         |cpairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id)
         |SELECT p.doc_a, p.doc_b,
         |  round((${(0 until NH).map(i =>
                s"CASE WHEN a.sig$i = b.sig$i THEN 1 ELSE 0 END")
                .mkString(" + ")}) / ${NH}.0, 6) AS est_jaccard
         |FROM cpairs p
         |JOIN sigs a ON a.doc_id = p.doc_a
         |JOIN sigs b ON b.doc_id = p.doc_b""".stripMargin,

    "q280_estimate_clusters" ->
      s"""WITH RECURSIVE $estClusterChain
         |SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |  coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN elab l ON l.id = d.doc_id""".stripMargin,

    "q281_star_dedup_clusters" ->
      s"""WITH RECURSIVE $starClusterChain
         |SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |  coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN stlab l ON l.id = d.doc_id""".stripMargin,

    "q285_star2_dedup_clusters" ->
      s"""WITH RECURSIVE $star2ClusterChain
         |SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |  coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN s2lab l ON l.id = d.doc_id""".stripMargin,

    "q286_star_rescue_clusters" ->
      s"""WITH RECURSIVE $starRescueChain
         |SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |  coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN rslab l ON l.id = d.doc_id""".stripMargin,

    // The UNION exact-dedup semantics: hash-equality of the incremental
    // engine path against this is the delta-posture theorem's gate check.
    "q288_incremental_clusters" ->
      s"""WITH RECURSIVE $starRescueChain
         |SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |  coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_canonical,
         |  d.doc_id % 10 = 9 AS is_incoming
         |FROM documents d LEFT JOIN rslab l ON l.id = d.doc_id""".stripMargin,

    "q282_estimate_savings" ->
      s"""WITH RECURSIVE $estClusterChain,
         |res AS (
         |  SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |    coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_can,
         |    len($toks) AS ntk
         |  FROM documents d LEFT JOIN elab l ON l.id = d.doc_id),
         |per AS (
         |  SELECT cluster, count(*) AS m, CAST(sum(ntk) AS BIGINT) AS ts,
         |    CAST(sum(CASE WHEN is_can THEN ntk ELSE 0 END) AS BIGINT) AS kept
         |  FROM res GROUP BY 1)
         |SELECT CASE WHEN m = 1 THEN '1' WHEN m = 2 THEN '2'
         |    WHEN m <= 4 THEN '3-4' WHEN m <= 8 THEN '5-8'
         |    ELSE '9+' END AS size_bucket,
         |  count(*) AS n_clusters, CAST(sum(m) AS BIGINT) AS n_docs,
         |  CAST(sum(ts) AS BIGINT) AS tokens_total,
         |  CAST(sum(ts - kept) AS BIGINT) AS tokens_saved,
         |  ${SqlFragments.ratioHalfUpSql("sum(ts - kept) * 10000", "sum(ts)", 4)}
         |    AS saved_frac
         |FROM per GROUP BY 1""".stripMargin,

    "q283_estimate_data_card" ->
      s"""WITH RECURSIVE $estClusterChain,
         |res AS (
         |  SELECT d.doc_id, d.source, d.lang, len($toks) AS ntk,
         |    coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_can
         |  FROM documents d LEFT JOIN elab l ON l.id = d.doc_id),
         |lc AS (
         |  SELECT source, lang, count(*) AS c, CAST(sum(ntk) AS BIGINT) AS tk,
         |    sum(CASE WHEN is_can THEN 0 ELSE 1 END) AS dup
         |  FROM res GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(sum(tk) AS BIGINT) AS n_tokens, count(*) AS n_langs,
         |  round(ln(CAST(sum(c) AS DOUBLE))
         |    - list_sum(list_transform(list(CAST(c AS DOUBLE) ORDER BY lang),
         |        cv -> cv * ln(cv))) / sum(c), 6)
         |    AS lang_entropy,
         |  CAST(sum(dup) AS BIGINT) AS n_dup_docs,
         |  ${SqlFragments.ratioHalfUpSql("sum(dup) * 10000", "sum(c)", 4)} AS dup_rate,
         |  ${SqlFragments.ratioHalfUpSql("sum(tk) * 10000", "sum(c)", 4)} AS avg_tokens
         |FROM lc GROUP BY 1""".stripMargin,

    "q27_ngram_jaccard" ->
      s"""WITH $shCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |${jaccardTail("pairs")}""".stripMargin,

    "q70_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterChain
         |SELECT d.doc_id, coalesce(least(l.id, l.mn), d.doc_id) AS cluster,
         |  coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN lab l ON l.id = d.doc_id""".stripMargin,

    "q98_dedup_keep_one" ->
      s"""WITH RECURSIVE $clusterChain,
         |res AS (
         |  SELECT d.lang,
         |    coalesce(least(l.id, l.mn), d.doc_id) = d.doc_id AS is_can
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(count(*) FILTER (WHERE is_can) AS BIGINT) AS n_kept,
         |  CAST(count(*) - count(*) FILTER (WHERE is_can) AS BIGINT) AS n_dropped
         |FROM res GROUP BY 1""".stripMargin,

    "q29_embed_norm" ->
      s"""SELECT vec_id, round(${normList("embedding")}, 6) AS l2_norm, label
         |FROM embeddings""".stripMargin,

    "q30_ann_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings WHERE vec_id >= 10),
         |pairs AS (
         |  SELECT q_id, c_id,
         |    round($dotList / (${normList("qe")} * ${normList("ce")}), 6) AS cosine
         |  FROM q CROSS JOIN c)
         |SELECT q_id, c_id, cosine, rn FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
         |  FROM pairs) t WHERE rn <= 5""".stripMargin,

    "q31_lsh_buckets" ->
      s"SELECT vec_id, $bucketExpr AS bucket FROM embeddings",

    "q32_lsh_ann_pairs" ->
      s"""WITH wb AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
         |p AS (
         |  SELECT a.bucket, a.vec_id AS a_id, b.vec_id AS b_id,
         |    a.embedding AS qe, b.embedding AS ce
         |  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT bucket, a_id, b_id,
         |  round($dotList / (${normList("qe")} * ${normList("ce")}), 6) AS cosine
         |FROM p""".stripMargin,

    "q33_lang_id" ->
      s"""WITH scores AS (SELECT doc_id, $markerScores FROM documents)
         |SELECT doc_id, CASE
         |  WHEN greatest(n_de, n_en, n_es, n_fr) = 0 THEN 'und'
         |  WHEN n_de = greatest(n_de, n_en, n_es, n_fr) THEN 'de'
         |  WHEN n_en = greatest(n_de, n_en, n_es, n_fr) THEN 'en'
         |  WHEN n_es = greatest(n_de, n_en, n_es, n_fr) THEN 'es'
         |  ELSE 'fr' END AS predicted_lang
         |FROM scores""".stripMargin,

    "q34_fingerprint" ->
      s"SELECT doc_id, md5(array_to_string($toks, '|')) AS fingerprint FROM documents",

    // Spark simhash32: per distinct token, h = first 4 md5 bytes (big-endian
    // 32-bit); bit j of the fingerprint set iff Σ tf·(bit j of h ? 1 : -1)
    // > 0; result is a SIGNED 32-bit int. Reproduced here with hex-digit
    // arithmetic + BIGINT shifts, two's-complemented back at the end.
    "q28_simhash" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
         |hv AS (
         |  SELECT doc_id, tf,
         |    list_sum(list_transform(range(8), hi ->
         |      (strpos('0123456789abcdef', substr(md5(tok), CAST(hi + 1 AS INT), 1)) - 1)
         |        * (1::BIGINT << CAST(4 * (7 - hi) AS INT)))) AS h
         |  FROM tf),
         |bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN (h >> CAST(j AS INT)) & 1 = 1 THEN tf ELSE -tf END) AS v
         |  FROM hv, range(32) t(j) GROUP BY 1, 2),
         |acc AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN v > 0 THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END) AS u
         |  FROM bits GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN coalesce(a.u, 0) >= 2147483648
         |    THEN coalesce(a.u, 0) - 4294967296
         |    ELSE coalesce(a.u, 0) END AS INT) AS simhash
         |FROM documents d LEFT JOIN acc a USING (doc_id)""".stripMargin,

    "q61_frame_sample" ->
      """SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(i * (n_chars // 3) AS BIGINT) AS frame_off,
        |  substr(md5(text || '#' || i), 1, 16) AS frame_digest
        |FROM documents, range(3) t(i)""".stripMargin,

    "q35_multimodal" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes,
        | substr(md5(text), 1, 16) AS digest16,
        | 64 + ((strpos('0123456789abcdef', substr(md5(text), 9, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5(text), 10, 1)) - 1)) % 128 AS width,
        | 64 + ((strpos('0123456789abcdef', substr(md5(text), 11, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5(text), 12, 1)) - 1)) % 128 AS height
        |FROM documents""".stripMargin,

    "q36_streaming_hot" ->
      """SELECT CAST(ts AS DATE) AS day, event_id % 500 AS newsId,
        | count(*) AS clicks
        |FROM events WHERE event_type = 'click' GROUP BY 1, 2""".stripMargin,

    "q41_streaming_profiles" ->
      """SELECT user_id AS userId, count(*) AS n_clicks,
        | count(DISTINCT event_id % 500) AS n_distinct_news
        |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin,

    "q64_streaming_dedup" ->
      """SELECT day, count(*) AS n_exposures,
        | count(DISTINCT user_id) AS n_users
        |FROM (SELECT DISTINCT user_id, event_id % 500 AS newsId,
        |        CAST(ts AS DATE) AS day
        |      FROM events WHERE event_type = 'click') t
        |GROUP BY day""".stripMargin,

    "q69_streaming_cume" ->
      """SELECT user_id AS userId, day, n_clicks,
        | CAST(sum(n_clicks) OVER (PARTITION BY user_id ORDER BY day) AS BIGINT) AS cum_clicks
        |FROM (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_clicks
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2) t""".stripMargin,

    "q66_interval_join" ->
      """SELECT c.user_id AS userId, v.event_id AS view_id,
        | c.event_id AS click_id,
        | epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin,

    "q42_token_budget" ->
      s"""SELECT doc_id, len($toks) AS ws_tokens,
         | CAST(list_sum(list_transform($toks,
         |   w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS subword_tokens,
         | n_chars
         |FROM documents""".stripMargin,

    "q65_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform($toks,
         |      w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_tok
         |  FROM documents),
         |o AS (
         |  SELECT doc_id, n_tok,
         |    CAST(sum(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
         |  FROM t)
         |SELECT doc_id, n_tok, end_off - n_tok AS start_off,
         |  (end_off - n_tok) // 2048 AS bin
         |FROM o""".stripMargin,

    "q43_embed_neardup" ->
      s"""WITH wb AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    a.embedding AS qe, b.embedding AS ce
         |  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT a_id, b_id,
         |    round($dotList / (${normList("qe")} * ${normList("ce")}), 6) AS cosine
         |  FROM p)
         |SELECT a_id, b_id, cosine FROM scored WHERE cosine >= 0.3""".stripMargin,

    "q44_ivf_cells" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id < 8),
         |d AS (
         |  SELECT e.vec_id, c.c_id,
         |    round(${dist2List("e.embedding", "c.c_emb")}, 6) AS dist2
         |  FROM embeddings e CROSS JOIN cent c)
         |SELECT vec_id, c_id AS cell, dist2 FROM (
         |  SELECT vec_id, c_id, dist2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
         |  FROM d) t WHERE rn = 1""".stripMargin,

    "q45_ivf_topk" ->
      s"""WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id < 8),
         |cd AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    round(${dist2List("e.embedding", "c.c_emb")}, 6) AS dist2
         |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 18),
         |cells AS (
         |  SELECT vec_id AS c_id2, c_id AS cell, embedding AS ce FROM (
         |    SELECT vec_id, embedding, c_id, dist2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
         |    FROM cd) t WHERE rn = 1),
         |qd AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    round(${dist2List("e.embedding", "c.c_emb")}, 6) AS dist2
         |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id BETWEEN 8 AND 17),
         |probed AS (
         |  SELECT vec_id AS q_id, c_id AS cell, embedding AS qe FROM (
         |    SELECT vec_id, embedding, c_id, dist2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
         |    FROM qd) t WHERE rn <= 2),
         |pairs AS (
         |  SELECT p.q_id, cl.c_id2,
         |    round($dotList / (${normList("qe")} * ${normList("ce")}), 6) AS cosine
         |  FROM probed p JOIN cells cl ON p.cell = cl.cell)
         |SELECT q_id, c_id2 AS c_id, cosine, rn FROM (
         |  SELECT q_id, c_id2, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id2) AS rn
         |  FROM pairs) t WHERE rn <= 3""".stripMargin,

    "q67_pq_codes" ->
      s"""WITH cbt AS (
         |  SELECT t.m, e.vec_id AS k,
         |    list_slice(e.embedding, t.m*8+1, t.m*8+8) AS cb
         |  FROM embeddings e CROSS JOIN range(8) t(m) WHERE e.vec_id < 16),
         |sv AS (
         |  SELECT e.vec_id, t.m,
         |    list_slice(e.embedding, t.m*8+1, t.m*8+8) AS sv
         |  FROM embeddings e CROSS JOIN range(8) t(m)),
         |d AS (
         |  SELECT s.vec_id, s.m, c.k,
         |    round(${dist2List("s.sv", "c.cb")}, 6) AS dist2
         |  FROM sv s JOIN cbt c ON c.m = s.m)
         |SELECT vec_id, m, code, dist2 FROM (
         |  SELECT vec_id, m, k AS code, dist2,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, k) AS rn
         |  FROM d) t WHERE rn = 1""".stripMargin,

    "q68_pq_topk" ->
      s"""WITH cbt AS (
         |  SELECT t.m, e.vec_id AS k,
         |    list_slice(e.embedding, t.m*8+1, t.m*8+8) AS cb
         |  FROM embeddings e CROSS JOIN range(8) t(m) WHERE e.vec_id < 16),
         |codes AS (
         |  SELECT vec_id AS c_id, m, code FROM (
         |    SELECT s.vec_id, s.m, c.k AS code,
         |      round(${dist2List("s.sv", "c.cb")}, 6) AS dist2,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY round(${dist2List("s.sv", "c.cb")}, 6), c.k) AS rn
         |    FROM (SELECT e.vec_id, t.m,
         |            list_slice(e.embedding, t.m*8+1, t.m*8+8) AS sv
         |          FROM embeddings e CROSS JOIN range(8) t(m)
         |          WHERE e.vec_id >= 26) s
         |    JOIN cbt c ON c.m = s.m) t WHERE rn = 1),
         |lut AS (
         |  SELECT e.vec_id AS q_id, t.m, c.k,
         |    round(${dist2List(s"list_slice(e.embedding, t.m*8+1, t.m*8+8)", "c.cb")}, 6) AS d
         |  FROM embeddings e CROSS JOIN range(8) t(m)
         |  JOIN cbt c ON c.m = t.m
         |  WHERE e.vec_id BETWEEN 16 AND 25),
         |pairs AS (
         |  SELECT l.q_id, cd.c_id, round(sum(l.d), 6) AS adist
         |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.code
         |  GROUP BY 1, 2)
         |SELECT q_id, c_id, adist, rn FROM (
         |  SELECT q_id, c_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rn
         |  FROM pairs) t WHERE rn <= 3""".stripMargin,

    // Rank-similarity family over the ordered top-8 word lists. With
    // distinct per-doc words (guaranteed: keywords come from distinct
    // (doc, word) rows), the reference semantics collapse to:
    //   F7  = |∩| / (s1·s2)
    //   F9  = Σ_matched (s2(s1-i) - s1(s2-j))² + Σ_aonly (s2(s1-i))²
    //       + Σ_bonly (s1(s2-j))²          (i, j = 0-based rank positions)
    //   F10 = Σ_matched s2(s1-i) · s1(s2-j)
    //   F12 = s1²·Σ_{u=1..s2} u² + s2²·Σ_{u=1..s1} u²
    // — all integer-exact, verified against the quirk-pinned Scala in
    // SimilaritiesSpec.
    "q38_rank_sim" ->
      s"""WITH toksrc AS (SELECT doc_id, unnest($toks) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toksrc GROUP BY 1, 2),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scoredkw AS (
         |  SELECT tf.doc_id, tf.word, round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS score
         |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
         |kw AS (SELECT doc_id, word, rn FROM (
         |  SELECT doc_id, word,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
         |  FROM scoredkw) t WHERE rn <= 8),
         |sz AS (SELECT doc_id, count(*) AS s FROM kw GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |psz AS (SELECT p.doc_a, p.doc_b, sa.s AS s1, sb.s AS s2
         |  FROM pairs p JOIN sz sa ON sa.doc_id = p.doc_a
         |  JOIN sz sb ON sb.doc_id = p.doc_b),
         |ka AS (SELECT p.doc_a, p.doc_b, k.word, k.rn - 1 AS i
         |  FROM pairs p JOIN kw k ON k.doc_id = p.doc_a),
         |kb AS (SELECT p.doc_a, p.doc_b, k.word, k.rn - 1 AS j
         |  FROM pairs p JOIN kw k ON k.doc_id = p.doc_b),
         |m AS (SELECT coalesce(ka.doc_a, kb.doc_a) AS doc_a,
         |        coalesce(ka.doc_b, kb.doc_b) AS doc_b, ka.i, kb.j
         |  FROM ka FULL JOIN kb
         |    ON ka.doc_a = kb.doc_a AND ka.doc_b = kb.doc_b AND ka.word = kb.word),
         |agg AS (
         |  SELECT m.doc_a, m.doc_b,
         |    sum(CASE WHEN i IS NOT NULL AND j IS NOT NULL THEN 1 ELSE 0 END) AS n_common,
         |    sum(CASE WHEN i IS NOT NULL AND j IS NOT NULL
         |          THEN (s2*(s1-i) - s1*(s2-j)) * (s2*(s1-i) - s1*(s2-j))
         |        WHEN i IS NOT NULL THEN s2*s2*(s1-i)*(s1-i)
         |        ELSE s1*s1*(s2-j)*(s2-j) END) AS f9,
         |    sum(CASE WHEN i IS NOT NULL AND j IS NOT NULL
         |          THEN (s2*(s1-i)) * (s1*(s2-j)) ELSE 0 END) AS f10
         |  FROM m JOIN psz USING (doc_a, doc_b)
         |  GROUP BY 1, 2)
         |SELECT a.doc_a, a.doc_b,
         |  round(CAST(n_common AS DOUBLE) / (s1 * s2), 6) AS f7_boolean,
         |  CAST(f9 AS INT) AS f9_rank_distance,
         |  CAST(s1*s1 * ((s2*(s2+1)*(2*s2+1))//6)
         |     + s2*s2 * ((s1*(s1+1)*(2*s1+1))//6) AS INT) AS f12_max,
         |  CAST(f10 AS INT) AS f10_match_score
         |FROM agg a JOIN psz USING (doc_a, doc_b)""".stripMargin,

    "q37_sim_weighted" ->
      s"""WITH toksrc AS (SELECT doc_id, unnest($toks) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toksrc GROUP BY 1, 2),
         |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scoredkw AS (
         |  SELECT tf.doc_id, tf.word, round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS score
         |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
         |kw AS (SELECT doc_id, word, score FROM (
         |  SELECT doc_id, word, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
         |  FROM scoredkw) t WHERE rn <= 8),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |ka AS (SELECT p.doc_a, p.doc_b, k.word, k.score AS v1
         |  FROM pairs p JOIN kw k ON k.doc_id = p.doc_a),
         |kb AS (SELECT p.doc_a, p.doc_b, k.word, k.score AS v2
         |  FROM pairs p JOIN kw k ON k.doc_id = p.doc_b),
         |m AS (SELECT coalesce(ka.doc_a, kb.doc_a) AS doc_a,
         |        coalesce(ka.doc_b, kb.doc_b) AS doc_b, v1, v2
         |  FROM ka FULL JOIN kb
         |    ON ka.doc_a = kb.doc_a AND ka.doc_b = kb.doc_b AND ka.word = kb.word)
         |SELECT doc_a, doc_b, round(
         |  sum(CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL
         |        THEN least(v1, v2) * least(v1, v2) ELSE 0 END)
         |  / sum(CASE WHEN v1 IS NOT NULL AND v2 IS NOT NULL
         |        THEN greatest(v1, v2) * greatest(v1, v2)
         |        WHEN v1 IS NOT NULL THEN v1 * v1 ELSE v2 * v2 END), 6) AS sim
         |FROM m GROUP BY doc_a, doc_b""".stripMargin
  )
}
