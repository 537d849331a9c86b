package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.Cdc
import graft.streaming.EventStreams
import graft.tables.Tables

/** kNN-graph builders, cell fences, fold-in, clustering and graph-relevance gates — split from the former monolithic Extensions.scala
  * (round 14, pure mechanical move; one object still unions every
  * family — see [[Extensions]]). Registry slices are DEFS, not vals:
  * they are evaluated once at union time in Extensions' constructor,
  * AFTER every mixed-in trait's constants are initialized, so the
  * oracle strings may interpolate any family's constants safely. */
private[queries] trait ExtGraphGates { this: ExtCore =>


  /** LSH-bounded kNN graph (x78): every vector's top-[[KnnGraphK]]
    * neighbors among its sampled-band candidates — the per-node
    * neighborhood primitive (NN-descent seeding, mutual-kNN clustering,
    * SemDeDup neighborhoods) that x05's threshold-pair form can't
    * express: output is ~n·k directed edges, not a threshold-dependent
    * pair set. Same 16×16 sampled geometry as x05_sampled so the two
    * share the candidate-generation scale story; the oracle computes the
    * identical banded candidates + window. */
  def x78_knn_graph(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = KnnGraphK, bands = SampledBands, bitsPerBand = SampledBandBits,
        dims = EmbeddingDims, seed = SampledSeed)
      .orderBy(col("src_id"), col("rnk"))


  /** Label-free semantic clustering (x81): connected components over the
    * MUTUAL edges of the x78 kNN graph — the SemDeDup partition step
    * derived from the embedding geometry alone, where x56/x59 require a
    * metadata label to cluster on. Mutuality (b ∈ knn(a) AND a ∈ knn(b))
    * is the standard asymmetry filter that keeps hub vectors from
    * chaining unrelated neighborhoods into one component; the component
    * fixpoint and summary are the same machinery as x20 (and the oracle
    * is the same recursive closure over the mutual edge set).
    *
    * The fixpoint is the large-star/small-star form, NOT min-label
    * propagation — measured, not stylistic: already at sf0.1 the mutual
    * rank-1 edges chain duplicates into a component of diameter > 25
    * (propagation's round cap; it failed to converge there), while the
    * star rewrite closes the same graph in O(log n) rounds. A mutual-kNN
    * graph is chain-shaped BY CONSTRUCTION (each node contributes ≤ k
    * edges, so dup runs form paths, not cliques) — the high-diameter
    * regime x20_star exists for is this operator's COMMON case.
    *
    * Inherited approximation, MEASURED (x85, round 11): the banded seed
    * graph keeps ~1 % of true top-k edges on this corpus (true cosines
    * 0.25–0.60 — below the sampled banding's effective collision
    * threshold), so these components partition by near-dup-strength
    * collision, not by general semantic neighborhood. That is the
    * SemDeDup use case (partition, then prune WITHIN), but a consumer
    * wanting true semantic neighborhoods builds the graph with the
    * trained coarse quantizer instead (x89, recall 0.70-0.74 vs ~0.01)
    * and clusters ITS mutual edges. */
  /** The banded mutual-kNN component labels, computed ONCE per corpus
    * and shared by x81 + x92 (raw corpus — the two gates consume the
    * IDENTICAL graph → mutual-edge → star-CC chain and previously each
    * re-ran it) and by x95 (planted corpus) — the minhashDupLabels
    * discipline (x20's fixpoint serves five consumers) applied to the
    * graph family's clustering layer. */
  private[queries] def bandedMutualCcLabels(s: SparkSession, dir: String,
                                            corpus: DataFrame,
                                            key: String): DataFrame =
    ExtCaches.anchor("bandedMutualCcLabels", s, (dir, key)) {
      val g = Similarity.knnGraph(corpus, "vec_id", "embedding",
          k = KnnGraphK, bands = SampledBands,
          bitsPerBand = SampledBandBits, dims = EmbeddingDims,
          seed = SampledSeed)
        .select(col("src_id"), col("nbr_id"))
      val fwd = g.filter(col("src_id") < col("nbr_id"))
        .select(col("src_id").as("id_a"), col("nbr_id").as("id_b"))
      val rev = g.filter(col("src_id") > col("nbr_id"))
        .select(col("nbr_id").as("id_a"), col("src_id").as("id_b"))
      val mutual = fwd.join(rev, Seq("id_a", "id_b"), "left_semi")
      Dedup.connectedComponentsStar(mutual, "id_a", "id_b")
    }

  def x81_semantic_clusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSummary(
        bandedMutualCcLabels(s, dir, Tables.embeddings(s, dir), "raw"))
      .orderBy(col("canonical_id"))


  /** Cluster-vs-label purity matrix for the label-free clustering (x92,
    * round-11 stretch): x81's mutual-kNN components confronted with the
    * metadata `label` column they never saw — the x56 matrix shape, one
    * integer row per (component, metadata label). A pure component
    * (single label) says the label-free partition reproduces the
    * labeled strata; a mixed row prices exactly where it doesn't.
    *
    * THE MEASURED FINDING (round 11): it doesn't, and the matrix says
    * why that is the CORPUS's fact, not the operator's. Majority-label
    * purity is 0.49/0.47/0.20 across the three SFs (8 of 140 components
    * single-label at sf0.1) against a 10-label chance rate of 0.10 —
    * and the cross-checks pin the cause: the true (exact) top-3
    * neighbor is same-label 157/1500 ≈ chance, i.e. this corpus's
    * labels are CENTROID-level structure (x56's 41 % nearest-centroid
    * diagonal) with zero neighborhood-level signal, so ANY kNN-derived
    * clustering tops out near chance (the x89 IVF graph's mutual
    * components measure 0.23–0.26 — no better). The matrix is the
    * honest negative a curation pipeline needs before trusting
    * label-free partitions as strata: on corpora like this one, x81's
    * components are near-dup groups (their actual job), not labels. */
  def x92_cluster_label_purity(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    bandedMutualCcLabels(s, dir, e, "raw")
      .select(col("v").as("vec_id"), col("label").as("canonical_id"))
      .join(e.select(col("vec_id"), col("label").as("meta_label")),
        Seq("vec_id"))
      .groupBy(col("canonical_id"), col("meta_label"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("canonical_id"), col("meta_label"))
  }


  /** Incremental kNN (x82): each incoming vector's top-k neighbors among
    * the base corpus's band-mates — the online-ingest half of x78 and
    * the ANN twin of x55's incremental dedup; same [[BaseFrac]] hash
    * split, same sampled geometry. See [[Similarity.incrementalKnn]]. */
  def x82_incremental_knn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val inBase = Sampling.hashThresholdPredicate(col("vec_id"), BaseFrac)
    Similarity.incrementalKnn(e.filter(inBase), e.filter(!inBase),
        "vec_id", "embedding", k = KnnGraphK, bands = SampledBands,
        bitsPerBand = SampledBandBits, dims = EmbeddingDims,
        seed = SampledSeed)
      .orderBy(col("vec_id"), col("rnk"))
  }


  /** x82_stream hot-bucket cap: the stored band index's saturation guard
    * in the stream processor (the x55_stream/LshStreamBucketCap
    * discipline — a no-op at registry scale, so the batch oracle's
    * exhaustive semantics hold exactly; the saturation behavior itself
    * is spec-pinned in StreamIncKnnSpec). */
  val KnnStreamBucketCap = 1000


  /** kNN-graph banding-recall audit (x85): the x71 discipline applied to
    * x78 — per node, the overlap of the TRUE top-[[KnnGraphK]] (exact
    * cosine over the full corpus, the x06 kernel) with the banded
    * graph's edges. The number x81's clusters and x82's ingest inherit:
    * a banded edge list is only as good as the fraction of true
    * neighbors the 16×16 sampled geometry lets collide. Unsampled here
    * (every node audited — the corpus is audit-sized at registry
    * scale); [[Similarity.knnGraphRecall]]'s `nodePredicate` is the
    * 100 TB knob.
    *
    * THE MEASURED FINDING (round 11, SCALING.md graph section): recall@3
    * = 13/1500 (0.9%) at sf0.001, 14/1500 (0.9%) at sf0.01, 82/6000
    * (1.4%) at sf0.1. The banded graph is NOT a generic kNN graph on
    * this corpus — and the geometry says why: a 16-bit sampled sign
    * band collides only when all 16 coordinate signs agree
    * (P ≈ (1/2 + arcsin ρ / π)^16 per band), which at the corpus's true
    * top-3 cosine regime (0.25–0.60; the corpus has NO pair above 0.61)
    * is ~0.1 % per band, ~1.5 % over 16 bands. Even restricted to true
    * edges with cosine ≥ 0.4 (x05's dup threshold) recall is 40/1802 at
    * sf0.1 — the geometry only pays at near-identical cosines (≥ ~0.9,
    * where per-band collision reaches ~8 % and 16 bands ~75 %), i.e. it
    * is a NEAR-DUP candidate generator, as shipped for x05. Against it,
    * x71's trained-cell IVF holds recall@3 = 16/30 at ~30 % probe mass.
    * Both candidate fixes were then MEASURED: NN-descent refinement of
    * this seed (Dong et al., WWW'11) converges at 20/1500 by round 2 —
    * rejected, these i.i.d.-dim embeddings have no navigable
    * neighborhood structure to descend (SCALING.md) — while the
    * trained-cell graph builder (x89, audited by x91) reaches
    * 0.70-0.74. x81's mutual-edge clusters and x82's ingest inherit
    * THIS number, not an assumed one. */
  def x85_knn_graph_recall(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphRecall(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = KnnGraphK, bands = SampledBands,
        bitsPerBand = SampledBandBits, dims = EmbeddingDims,
        seed = SampledSeed)
      .orderBy(col("src_id"))


  /** IVF-probed kNN graph (x89) — the production graph builder the x85
    * finding demands: same output shape and consumers as x78, but
    * candidates come from the trained coarse quantizer (each node
    * probes its [[ScaledNprobe]] nearest Lloyd-trained cells, the
    * x73/x76 front end) instead of the sampled banding, and ranking
    * inside probed cells is the exact quantized cosine. x91 audits it:
    * recall@3 = 0.744/0.732/0.698 at sf0.001/0.01/0.1 at the shipped
    * ~32 % probe mass vs x78's 0.009-0.014 on the same corpus — see [[Similarity.knnGraphIvf]] for the measured
    * ladder and the rejected NN-descent alternative. */
  def x89_knn_graph_ivf(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphIvf(sharedIvfFront(s, dir), k = KnnGraphK,
        maxCellSize = Some(KnnCellCap), assertUnderCap = true)
      .orderBy(col("src_id"), col("rnk"))


  /** Residual sub-quantizer arm of the x101 residual-fenced graph —
    * sub-cells ∝ the expected oversized-mode size / cap; the (16, 8)
    * point measured recall 0.94 of the full fallback on the planted
    * twin (PLANS.md "knnGraphIvfResidual — the bounded fallback the
    * fence measurement demanded", row (16, 8): 1412/1500 = 0.94). */
  val ResidualSubCells = 16

  val ResidualSubNprobe = 8


  /** Residual-fenced IVF graph (x101) — [[Similarity.knnGraphIvfResidual]]
    * as a first-class gated operator: the x89 build with the BOUNDED
    * fallback (residual sub-quantizer, candidates born unique) in place
    * of the banded one. At gate scale no cell exceeds [[KnnCellCap]]
    * (asserted on the driver, same loud-failure discipline as x89/x93), so
    * the oracle is x89's cell-exhaustive SQL VERBATIM and the gate
    * proves the shared tail + the under-cap equality cross-engine; the
    * overflow branch is spec-gated (PlantedFenceSpec) and soak-measured
    * (n=20k cap=1000: 0.60× candidates, 66× count job, 4.8× build,
    * recall 0.959→0.74 — the probe-budget trade, PLANS.md). */
  def x101_knn_graph_residual(s: SparkSession, dir: String): DataFrame =
    residualGraph(sharedIvfFront(s, dir))
      .orderBy(col("src_id"), col("rnk"))

  /** The under-cap residual-fenced graph over `front` at x101's
    * sub-quantizer geometry (x101, x104). Its sub state is read from the
    * front: with no cell past [[KnnCellCap]],
    * [[Similarity.residualSubStats]] returns None from the driver-held
    * cell sizes, with no job; a cell past it trains the sub state before
    * the guard throws. */
  private def residualGraph(front: Similarity.IvfFront): DataFrame =
    Similarity.knnGraphIvfResidual(front, k = KnnGraphK,
      maxCellSize = KnnCellCap, subNprobe = ResidualSubNprobe,
      assertUnderCap = true,
      subStats = Similarity.residualSubStats(front, ScaledLloydRounds,
        KnnCellCap, ResidualSubCells))


  // ---- x102–x104: planted relevance for the graph family (round 13) -------

  /** Twin-augmented embedding corpus + query set shared by the
    * graph-relevance gates x102–x104 (the x98 ground truth pointed at
    * the GRAPH builders — round-12 verdict #4): the corpus is widened
    * to double and unioned with each query's perturbed twin
    * ([[graft.ext.Relevance.twinEmbs]], dyadic jitter at
    * cos(twin, source) ≈ 0.71 vs 0.49 max background), and "relevant
    * edge" is defined as (src → src + TwinIdOffset). Queries are the
    * [[RelevanceQueries]] lowest vec ids — pure scan filters on both
    * engines, no docs join (the graph family is embedding-only, so
    * unlike x98 there is no orphan precondition to guard). */
  private[queries] def twinEmbCorpus(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val embs = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
    (embs.unionByName(graft.ext.Relevance.twinEmbs(
        embs, "vec_id", "embedding", RelevanceQueries)),
      embs.filter(col("vec_id") < RelevanceQueries))
  }


  /** Trained-quantizer state for the graph family's two NON-raw corpora
    * (round 16 — the [[ExtAnnGates]] sharedCellStats discipline extended
    * sideways): x102/x103/x104 each train the SAME ScaledCells coarse
    * quantizer over the twin-augmented corpus, and x97/x106 the same one
    * over the planted corpus. Training is deterministic exact-integer
    * Lloyd over a value-equal quantized relation (`quantize` commutes
    * with the DoubleType widening twinEmbCorpus applies), so sharing
    * changes cost, never results — every consumer's oracle stays
    * hash-green. */
  private[queries] def twinCellStats(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("twinCellStats", s, dir) {
      val (u, _) = twinEmbCorpus(s, dir)
      Similarity.trainedCellStats(
        ExtCaches.persistTracked(u.select(col("vec_id").as("id"),
          Similarity.quantize(col("embedding")).as("v"))),
        ScaledCells, ScaledLloydRounds)
    }

  /** The IVF front over the twin-augmented corpus probed against
    * [[twinCellStats]] (the [[sharedIvfFront]] discipline): x102–x104
    * read it, and its cell sizes are collected while it is built, so no
    * consumer call starts a job or fills a cache for it. */
  private[queries] def twinIvfFront(s: SparkSession, dir: String)
      : Similarity.IvfFront =
    ExtCaches.anchor("twinIvfFront", s, dir) {
      val front = Similarity.ivfFront(twinEmbCorpus(s, dir)._1, "vec_id",
        "embedding", twinCellStats(s, dir), ScaledNprobe)
      front.cellSizes
      front
    }

  /** Twin-corpus PQ codebooks + codes (the sharedPqState discipline for
    * the twin universe): x98's IVF×PQ arm trains the same joint-Lloyd
    * chain over the same values — under its own orphan guard, which
    * asserts the docs∩embs universe IS the embedding corpus. */
  private[queries] def twinPqState(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    ExtCaches.anchor("twinPqState", s, dir) {
      val (u, _) = twinEmbCorpus(s, dir)
      Similarity.pqTrainEncode(
        ExtCaches.persistTracked(u.select(col("vec_id").as("id"),
          Similarity.quantize(col("embedding")).as("v"))),
        PqM, PqCodes, PqLloydRounds, EmbeddingDims)
    }

  /** The planted corpus (x95–x97, x106, x107): [[graft.ext.Planted]]
    * vectors over the embedding ids. */
  private[queries] def plantedEmbs(s: SparkSession, dir: String): DataFrame =
    graft.ext.Planted.vectors(
      Tables.embeddings(s, dir).select(col("vec_id")), "vec_id")

  /** The planted-corpus twin of [[twinCellStats]]. */
  private[queries] def plantedCellStats(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("plantedCellStats", s, dir) {
      Similarity.trainedCellStats(
        ExtCaches.persistTracked(plantedEmbs(s, dir).select(
          col("vec_id").as("id"), Similarity.quantize(col("embedding")).as("v"))),
        ScaledCells, ScaledLloydRounds)
    }

  /** The planted-corpus twin of [[twinIvfFront]], probed against
    * [[plantedCellStats]]: x97 and x106 read it. */
  private[queries] def plantedIvfFront(s: SparkSession, dir: String)
      : Similarity.IvfFront =
    ExtCaches.anchor("plantedIvfFront", s, dir) {
      val front = Similarity.ivfFront(plantedEmbs(s, dir), "vec_id",
        "embedding", plantedCellStats(s, dir), ScaledNprobe)
      front.cellSizes
      front
    }

  /** RESIDUAL SUB-QUANTIZER state for x106 (round 17 — the r16 verdict's
    * #3): under [[PlantedFenceCap]] every Lloyd cell overflows, so each
    * invocation re-trained the level-1 sub-Lloyd chain over the big-cell
    * residuals — the dominant remaining cost after the coarse anchor
    * landed (7.4 s bench line). The state is deterministic given
    * (planted corpus, coarse stats), so the
    * [[Similarity.residualSubStats]] trainer runs once per epoch and
    * [[Similarity.knnGraphIvfResidual]] consumes it bit-identically
    * (CellFenceSpec's shared-vs-per-call pin covers the sub state). */
  private[queries] def plantedSubStats(s: SparkSession, dir: String)
      : Option[DataFrame] =
    ExtCaches.anchor("plantedSubStats", s, dir)(
      Similarity.residualSubStats(plantedIvfFront(s, dir), ScaledLloydRounds,
        PlantedFenceCap, ResidualSubCells))

  /** Bench pre-warm for the graph family's shared anchors (the
    * warmAnnShared precedent): the Lloyd chains train eagerly on the
    * driver, so invoking the builders materializes every trained state. */
  def warmGraphShared(s: SparkSession, dir: String): Unit =
    // Three independent trainings; each front rides its cells' chain, and
    // x106's residual sub-quantizer reads the planted front. The
    // twin-corpus quantized scan is value-shared by chains 1 and 3 — a
    // concurrent first fill may compute a partition twice (the
    // persistEager race note), which costs one cheap projection pass and
    // buys overlapping the three Lloyd chains' serial job strings.
    ExtCaches.warmChains(
      "twinCellStats+twinIvfFront" -> (() => twinIvfFront(s, dir)),
      "plantedCellStats+plantedIvfFront+plantedSubStats" -> (() =>
        plantedSubStats(s, dir)),
      "twinPqState" -> (() => twinPqState(s, dir)._1.count()))


  /** Planted relevance of the IVF-probed graph (x102) — x89's builder
    * over the twin-augmented corpus, reduced to the integer hit row
    * ([[graft.ext.Relevance.graphHitsAtK]]): does each query's top-
    * [[KnnGraphK]] edge list contain its OWN twin, and at rank 1? The
    * graph-family analog of x98's end-to-end ranking number: x91's
    * recall audit says how much of the exact graph the probes keep;
    * this says whether the edges a curation pipeline consumes surface
    * the KNOWN-relevant neighbor. */
  def x102_graph_relevance_ivf(s: SparkSession, dir: String): DataFrame =
    graft.ext.Relevance.graphHitsAtK("1_ivf",
      Similarity.knnGraphIvf(twinIvfFront(s, dir), k = KnnGraphK,
        maxCellSize = Some(KnnCellCap), assertUnderCap = true),
      twinEmbCorpus(s, dir)._2, "vec_id", KnnGraphK)


  /** Planted relevance of the SQ8-shortlist graph (x103) — x93's
    * at-scale builder (stored-code ADC shortlist + exact re-rank) under
    * the same twin ground truth; read against x102 it prices the
    * shortlist's RELEVANCE cost end to end, composing x94's ~zero
    * recall loss into the number a user cares about. */
  def x103_graph_relevance_sq8(s: SparkSession, dir: String): DataFrame = {
    val (u, q) = twinEmbCorpus(s, dir)
    graft.ext.Relevance.graphHitsAtK("2_ivf_sq8",
      Similarity.knnGraphIvfSq8(twinIvfFront(s, dir), u, "vec_id",
        "embedding", k = KnnGraphK, shortlist = KnnShortlist,
        maxCellSize = Some(KnnCellCap), assertUnderCap = true),
      q, "vec_id", KnnGraphK)
  }


  /** Planted relevance of the residual-fenced graph (x104) — x101's
    * builder under the twin ground truth. At gate scale no cell
    * exceeds [[KnnCellCap]] (asserted on the driver), so the result must
    * EQUAL x102's row (under-cap equality, now proven through the
    * relevance reduction too) and the oracle is x102's SQL with only
    * the arm label changed; the overflow branch's relevance is priced
    * on the planted corpus in PlantedFenceSpec. */
  def x104_graph_relevance_residual(s: SparkSession, dir: String)
      : DataFrame =
    graft.ext.Relevance.graphHitsAtK("3_residual",
      residualGraph(twinIvfFront(s, dir)), twinEmbCorpus(s, dir)._2,
      "vec_id", KnnGraphK)


  /** Cell cap for the planted-fence gate — BELOW the planted cluster
    * size at every SF (clusters ≈ n/10 ≥ 50), so the residual OVERFLOW
    * branch carries essentially the whole corpus and the oracle must
    * replicate the full fallback machinery, not an empty branch. */
  val PlantedFenceCap = 20


  /** Residual-fenced graph ON the overflow corpus (x106) — the round-12
    * verdict's #2 ("promote the depth-2/overflow fence to gated form"):
    * x101 proves the under-cap path (its fallback branch is EMPTY at
    * gate scale); this line runs [[Similarity.knnGraphIvfResidual]] over
    * the PLANTED corpus (x95–x97's positive-control generator) with the
    * cap far below the planted cluster size, so every Lloyd cell
    * overflows and the gated output is produced by the residual
    * sub-quantizer fallback end to end: big-cell detection, residual
    * computation vs integer-rounded centroids, the hash-seeded
    * sub-Lloyd chain, rank-1 member sub-cells, per-(src, cell)
    * subNprobe prober sub-cells, the (cell, subcell) candidate join,
    * and the union with the (near-empty) under-cap exact path. The
    * DuckDB oracle spells out ALL of it (residualFenceCtes), so the
    * hash gate proves the overflow algebra cross-engine at all three
    * SFs — the branch PlantedFenceSpec could only spec-pin before. */
  def x106_planted_fence_residual(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphIvfResidual(plantedIvfFront(s, dir), k = KnnGraphK,
        maxCellSize = PlantedFenceCap, subNprobe = ResidualSubNprobe,
        assertUnderCap = false, subStats = plantedSubStats(s, dir))
      .orderBy(col("src_id"), col("rnk"))


  /** x107's coarse geometry: 10 seeds over the 10 planted clusters —
    * the MERGED-mode regime (some cells glue two clusters), which is
    * the only geometry where depth-2 recursion actually fires: pure
    * cells' residuals split fully at level 1 (PureCellCurveSpec's
    * no-op finding), glued modes leave level-1 sub-cells over the cap
    * and force the level-2 re-quantization. nprobe 2 of 10 cells ≈
    * the x89 probe-mass class. */
  val PlantedDeepCoarse = 10

  val PlantedDeepNprobe = 2


  /** Depth-2 residual recursion, oracle-gated end to end (x107) — the
    * last spec-only branch promoted to a registry gate (round-12 weak
    * #2's explicit residue): [[Similarity.knnGraphIvfResidualDeep]] at
    * `depth = 2` over the planted corpus in MERGED-mode geometry
    * ([[PlantedDeepCoarse]]), cap far below cluster size, so the
    * static two-level loop runs in full — level-1 global sub-Lloyd
    * over big-cell residuals, still-oversized (cell, sub) keys
    * re-quantized at level 2 against ACCUMULATED offsets
    * (cbar₀ + cbar₁), cap-bounded emits at each level, and the
    * depth-exhaustion exhaustive emit for keys depth 2 cannot split.
    * The DuckDB oracle (deepFenceCtes) replicates every stage, so the
    * recursion algebra — offsets, per-level seeds, the emit/recurse
    * partition, the final DISTINCT — is cross-engine-proven at all
    * three SFs. */
  def x107_planted_fence_deep(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphIvfResidualDeep(
        Similarity.trainedIvfFront(plantedEmbs(s, dir), "vec_id", "embedding",
          PlantedDeepCoarse, ScaledLloydRounds, PlantedDeepNprobe),
        k = KnnGraphK, lloydRounds = ScaledLloydRounds,
        maxCellSize = PlantedFenceCap, subCells = ResidualSubCells,
        subNprobe = ResidualSubNprobe, depth = 2)
      .orderBy(col("src_id"), col("rnk"))


  /** Lloyd-cell size cap for the gated graph builders (round 12 —
    * retiring the round-11 `weak` marks): past it,
    * [[Similarity.knnGraphIvf]]/[[Similarity.knnGraphIvfSq8]] switch to
    * banded-LSH candidates WITHIN the oversized cell (the x59
    * SemDedupClusterCap discipline — see [[Similarity.CellFence]] for
    * the collapse geometry and the trade). The gated corpora sit far
    * under it (sf0.1: 32 cells over 2k vectors, max cell ~100), so the
    * exhaustive oracle semantics hold exactly while the cell² failure
    * mode is fenced; the registry forms additionally assert the
    * precondition on the driver (`assertUnderCap`) so a future corpus that
    * collapses a cell fails loudly by name, never as an opaque hash
    * mismatch. The degenerate one-giant-cell corpus is spec-pinned
    * (CellFenceSpec). */
  val KnnCellCap = 1000


  /** Recall audit of the IVF-probed graph (x91) — x85's machinery
    * ([[Similarity.graphEdgesRecall]]) pointed at x89's edges, so the
    * two graph builders carry comparable, gate-verified recall numbers:
    * banded 82/6000 vs IVF-probed 4187/6000 at sf0.1 (0.014 vs 0.698;
    * 0.744/0.732 at sf0.001/0.01).
    * Together with x85 this is the graph family's x71: the coarse
    * quantizer is the only candidate generator with usable generic-kNN
    * recall on this corpus, and its nprobe knob prices the rest. */
  def x91_knn_graph_ivf_recall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.graphEdgesRecall(e,
        Similarity.knnGraphIvf(sharedIvfFront(s, dir), k = KnnGraphK,
          maxCellSize = Some(KnnCellCap), assertUnderCap = false),
        "vec_id", "embedding", k = KnnGraphK, hitsCol = "hits_ivf")
      .orderBy(col("src_id"))
  }


  /** x93 shortlist depth: probed members ranked by the stored SQ8 code
    * dot survive to this depth per node before the exact re-rank picks
    * the final [[KnnGraphK]] — x94 measures the composed loss (~zero at
    * 10: the x64 frozen-candidate audit's prediction, now composed). */
  val KnnShortlist = 10


  /** SQ8-shortlist IVF graph (x93): x89 with the at-scale ranking tail —
    * probed members ranked by the stored SQ8 code dot, a
    * [[KnnShortlist]]-deep shortlist, exact re-rank of the shortlist
    * only (the x75 refine composition applied to the graph build; see
    * [[Similarity.knnGraphIvfSq8]]). The graph ladder's 100 TB rung:
    * what crosses the scorer is the int8-range payload a production
    * index keeps at rest. */
  def x93_knn_graph_ivf_sq8(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphIvfSq8(sharedIvfFront(s, dir),
        Tables.embeddings(s, dir), "vec_id", "embedding", k = KnnGraphK,
        shortlist = KnnShortlist, maxCellSize = Some(KnnCellCap),
        assertUnderCap = true)
      .orderBy(col("src_id"), col("rnk"))


  /** Recall audit of the SQ8-shortlist graph (x94): completes the graph
    * family's measured ladder — banded x85 ≈ 0.01, exact-rank IVF x91
    * 0.7440/0.7320/0.6978, SQ8-shortlist IVF x94 0.7427/0.7320/0.6957 —
    * the shortlist costs 2/0/13 edges of 1500/1500/6000 (fidelity ≈ 1
    * at depth 10, composing x64's quantization-loss audit with x91's
    * probe loss). */
  def x94_knn_graph_ivf_sq8_recall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.graphEdgesRecall(e,
        Similarity.knnGraphIvfSq8(sharedIvfFront(s, dir), e, "vec_id",
          "embedding", k = KnnGraphK, shortlist = KnnShortlist,
          maxCellSize = Some(KnnCellCap), assertUnderCap = false),
        "vec_id", "embedding", k = KnnGraphK, hitsCol = "hits_ivf_sq8")
      .orderBy(col("src_id"))
  }


  /** Incremental graph fold-in, oracle-gated END TO END (x99) — the
    * round-12 stretch upgraded from a spec to a registry gate: the
    * ENGINE runs the full incremental maintenance path (build the
    * stored base graph under a base-trained frozen quantizer — the
    * unfenced [[graft.ext.Similarity.knnGraphIvf]] over the base slice's
    * front — then fold the held-out
    * batch in via [[graft.ext.Similarity.knnGraphIvfFoldIn]], never
    * rescoring base×base), while the ORACLE computes the FRESH
    * frozen-quantizer build over the union in DuckDB. The hash gate
    * therefore proves two things at once: the fold-in algebra
    * (topk(S∪T) ⊆ topk(S) ∪ T applied per probed cell) and the
    * cross-engine arithmetic, at all three SFs. Base/batch is the x83
    * hash split ([[BaseFrac]]); geometry is x89's. */
  def x99_graph_foldin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val inBase = Sampling.hashThresholdPredicate(col("vec_id"), BaseFrac)
    val base = e.filter(inBase)
    // ONE base-slice quantizer training for both halves of the cadence
    // (round 16): the stored build and the fold-in each re-derived the
    // identical frozen quantizer — deterministic training means sharing
    // the stats changes cost, never results (the spec pins fold-in ≡
    // fresh row for row either way). Session-keyed since round 17, so a
    // warm rep does not re-run the training; the state is a driver-held
    // LocalRelation, so the downstream persists (quantized base, probes,
    // the stored graph below) canonicalize by value and dedupe.
    val baseStats = ExtCaches.anchor("x99BaseCellStats", s, dir)(
      Similarity.trainedCellStats(
        ExtCaches.persistTracked(base.select(col("vec_id").as("id"),
          Similarity.quantize(col("embedding")).as("v"))),
        ScaledCells, ScaledLloydRounds))
    // The STORED base graph persists (round 17): it is the artifact the
    // fold-in maintains — a production deployment reads it from storage,
    // it is n·k rows (never candidate-mass), and without the barrier
    // every action re-ran the whole base build's cell join + rank tower
    // under the fold-in's final rank. The plan now roots the fold-in on
    // ONE ranked-base subtree (InMemoryRelation) — the r16 verdict's #4.
    // The stored build and the fold-in read one front of the base slice:
    // its normed vectors and probes persist once per call.
    val front = Similarity.ivfFront(base, "vec_id", "embedding", baseStats,
      ScaledNprobe)
    val stored = ExtCaches.persistTracked(Similarity.knnGraphIvf(front,
      k = KnnGraphK, maxCellSize = None, assertUnderCap = false))
    Similarity.knnGraphIvfFoldIn(stored, front, e.filter(!inBase),
        "vec_id", "embedding", k = KnnGraphK)
      .orderBy(col("src_id"), col("rnk"))
  }

  protected def queriesGraph: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x78_knn_graph" -> (x78_knn_graph _),
    "x81_semantic_clusters" -> (x81_semantic_clusters _),
    "x82_incremental_knn" -> (x82_incremental_knn _),
    "x85_knn_graph_recall" -> (x85_knn_graph_recall _),
    "x89_knn_graph_ivf" -> (x89_knn_graph_ivf _),
    "x91_knn_graph_ivf_recall" -> (x91_knn_graph_ivf_recall _),
    "x92_cluster_label_purity" -> (x92_cluster_label_purity _),
    "x93_knn_graph_ivf_sq8" -> (x93_knn_graph_ivf_sq8 _),
    "x94_knn_graph_ivf_sq8_recall" -> (x94_knn_graph_ivf_sq8_recall _),
    "x99_graph_foldin" -> (x99_graph_foldin _),
    "x101_knn_graph_residual" -> (x101_knn_graph_residual _),
    "x102_graph_relevance_ivf" -> (x102_graph_relevance_ivf _),
    "x103_graph_relevance_sq8" -> (x103_graph_relevance_sq8 _),
    "x104_graph_relevance_residual" -> (x104_graph_relevance_residual _),
    "x106_planted_fence_residual" -> (x106_planted_fence_residual _),
    "x107_planted_fence_deep" -> (x107_planted_fence_deep _))

  protected def oracleSqlGraph: Map[String, String] = Map(

    // x78: the x05_sampled band-candidate CTEs verbatim (same sampled
    // coordinate table, interpolated from Similarity.sampledCoords), but
    // DIRECTED candidates (<>, not <) and a per-source rank window in
    // place of the threshold filter. CTE chain shared with x81.
    "x78_knn_graph" ->
      s"""WITH $knnEdgeCtes
         |SELECT src_id, nbr_id, cosine, rnk FROM r WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x81: the x78 edge chain, restricted to MUTUAL edges, closed by the
    // same recursive-CTE component fixpoint as x20's oracle.
    "x81_semantic_clusters" ->
      s"""WITH RECURSIVE $knnEdgeCtes,
         |knn AS (SELECT src_id, nbr_id FROM r WHERE rnk <= $KnnGraphK),
         |mut AS (
         |  SELECT a.src_id AS id_a, a.nbr_id AS id_b
         |  FROM knn a JOIN knn b
         |    ON a.src_id = b.nbr_id AND a.nbr_id = b.src_id
         |  WHERE a.src_id < a.nbr_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mut
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM mut),
         |reach(v, l) AS (
         |  SELECT DISTINCT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e2.dst AS v, r2.l FROM reach r2 JOIN edges e2 ON r2.v = e2.src),
         |lab AS (SELECT v, min(l) AS label FROM reach GROUP BY v)
         |SELECT label AS canonical_id, count(*) AS n_members
         |FROM lab GROUP BY label
         |HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin,


    // x93: the SQ8-shortlist graph — trained cells + stored codes + ADC
    // shortlist + exact re-rank, one factored chain (ivfSq8GraphCtes).
    "x93_knn_graph_ivf_sq8" ->
      s"""WITH $ivfSq8GraphCtes
         |SELECT src_id, nbr_id, cosine, rnk FROM g8 WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x94: the x93 chain verbatim audited against the exact per-node
    // top-k (the x85/x91 brute chain over gn).
    "x94_knn_graph_ivf_sq8_recall" ->
      s"""WITH $ivfSq8GraphCtes,
         |g AS (SELECT src_id, nbr_id FROM g8 WHERE rnk <= $KnnGraphK),
         |bs AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |         CAST(${dotSql("a.v", "b.v")} AS DOUBLE)
         |           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
         |  FROM gn a JOIN gn b ON b.vec_id <> a.vec_id),
         |bt AS (
         |  SELECT src_id, nbr_id FROM (
         |    SELECT src_id, nbr_id,
         |           row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rnk
         |    FROM bs) WHERE rnk <= $KnnGraphK),
         |ec AS (SELECT src_id, CAST(count(*) AS BIGINT) AS n_exact FROM bt GROUP BY 1),
         |h AS (
         |  SELECT bt.src_id, CAST(count(*) AS BIGINT) AS hits_ivf_sq8
         |  FROM bt JOIN g ON bt.src_id = g.src_id AND bt.nbr_id = g.nbr_id
         |  GROUP BY 1)
         |SELECT ec.src_id, ec.n_exact,
         |       CAST(COALESCE(h.hits_ivf_sq8, 0) AS BIGINT) AS hits_ivf_sq8,
         |       CAST(COALESCE(h.hits_ivf_sq8, 0) AS DOUBLE) / CAST(ec.n_exact AS DOUBLE) AS recall_at_k
         |FROM ec LEFT JOIN h USING (src_id)
         |ORDER BY src_id""".stripMargin,


    // x99: the ORACLE computes the FRESH frozen-quantizer graph over the
    // union (train on the base hash slice, score and rank everything —
    // trainedCellCtesOver decouples the two), while the engine runs the
    // INCREMENTAL fold-in; the hash gate proves fold-in ≡ fresh across
    // engines. Tail = ivfGraphCtes' spelling over qall.
    "x99_graph_foldin" ->
      s"""WITH qall AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |qv AS (
         |  SELECT * FROM qall
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}'),
         |${trainedCellCtesOver("qv", "qall")},
         |gn AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qall),
         |gmem AS (SELECT vec_id AS nbr_id, c_label AS cell FROM krank WHERE rn = 1),
         |gprob AS (SELECT vec_id AS src_id, c_label AS cell FROM krank WHERE rn <= $ScaledNprobe),
         |gc AS (
         |  SELECT p.src_id, m.nbr_id FROM gprob p JOIN gmem m USING (cell)
         |  WHERE m.nbr_id <> p.src_id),
         |gscored AS (
         |  SELECT gc.src_id, gc.nbr_id,
         |         CAST(${dotSql("ns.v", "nn.v")} AS DOUBLE)
         |           / (sqrt(CAST(ns.norm_sq AS DOUBLE)) * sqrt(CAST(nn.norm_sq AS DOUBLE))) AS cosine
         |  FROM gc JOIN gn ns ON ns.vec_id = gc.src_id JOIN gn nn ON nn.vec_id = gc.nbr_id),
         |gr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rnk
         |  FROM gscored)
         |SELECT src_id, nbr_id, cosine, rnk FROM gr WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x92: the x81 recursive-closure chain verbatim, the component
    // labels joined against the metadata label column — the x56 matrix
    // shape over the label-free clustering.
    "x92_cluster_label_purity" ->
      s"""WITH RECURSIVE $knnEdgeCtes,
         |knn AS (SELECT src_id, nbr_id FROM r WHERE rnk <= $KnnGraphK),
         |mut AS (
         |  SELECT a.src_id AS id_a, a.nbr_id AS id_b
         |  FROM knn a JOIN knn b
         |    ON a.src_id = b.nbr_id AND a.nbr_id = b.src_id
         |  WHERE a.src_id < a.nbr_id),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM mut
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM mut),
         |reach(v, l) AS (
         |  SELECT DISTINCT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e2.dst AS v, r2.l FROM reach r2 JOIN edges e2 ON r2.v = e2.src),
         |lab AS (SELECT v, min(l) AS label FROM reach GROUP BY v)
         |SELECT lab.label AS canonical_id, emb.label AS meta_label,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM lab JOIN embeddings emb ON emb.vec_id = lab.v
         |GROUP BY 1, 2
         |ORDER BY canonical_id, meta_label""".stripMargin,


    // x82 (both forms — the stream twin's oracle is the batch one
    // VERBATIM, so stream-equals-batch is the hash-gated claim): the
    // x78 band CTEs with the x55-style hash split, incoming probing base.
    "x82_incremental_knn" -> x82OracleSql,


    // x85: the banded graph (the x78 CTE chain verbatim) audited against
    // the exact per-node top-k (the x71 brute chain with EVERY node as a
    // query). Integer counts + one final divide per node.
    "x85_knn_graph_recall" ->
      s"""WITH $knnEdgeCtes,
         |g AS (SELECT src_id, nbr_id FROM r WHERE rnk <= $KnnGraphK),
         |bs AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |         CAST(${dotSql("a.v", "b.v")} AS DOUBLE)
         |           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
         |  FROM n a JOIN n b ON b.vec_id <> a.vec_id),
         |bt AS (
         |  SELECT src_id, nbr_id FROM (
         |    SELECT src_id, nbr_id,
         |           row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rnk
         |    FROM bs) WHERE rnk <= $KnnGraphK),
         |ec AS (SELECT src_id, CAST(count(*) AS BIGINT) AS n_exact FROM bt GROUP BY 1),
         |h AS (
         |  SELECT bt.src_id, CAST(count(*) AS BIGINT) AS hits_banded
         |  FROM bt JOIN g ON bt.src_id = g.src_id AND bt.nbr_id = g.nbr_id
         |  GROUP BY 1)
         |SELECT ec.src_id, ec.n_exact,
         |       CAST(COALESCE(h.hits_banded, 0) AS BIGINT) AS hits_banded,
         |       CAST(COALESCE(h.hits_banded, 0) AS DOUBLE) / CAST(ec.n_exact AS DOUBLE) AS recall_at_k
         |FROM ec LEFT JOIN h USING (src_id)
         |ORDER BY src_id""".stripMargin,


    // x89: the trained-cell front end (trainedCellCtes, shared with
    // x73/x76/x84) driving a per-node exact-cosine rank window — the
    // graph twin of the x73 search with every node as a query.
    "x89_knn_graph_ivf" ->
      s"""WITH $ivfGraphCtes
         |SELECT src_id, nbr_id, cosine, rnk FROM gr WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x101: the residual-fenced builder — at gate scale no cell exceeds
    // KnnCellCap (asserted on the driver), so the fallback branch is empty and
    // the oracle is x89's cell-exhaustive chain VERBATIM; the gate proves
    // the shared graph tail and the under-cap equality cross-engine.
    "x101_knn_graph_residual" ->
      s"""WITH $ivfGraphCtes
         |SELECT src_id, nbr_id, cosine, rnk FROM gr WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x102: the x89 chain over the twin-augmented corpus
    // (relevanceEmbCtes), reduced to the planted hit row — the graph
    // family's x98.
    "x102_graph_relevance_ivf" ->
      s"""WITH $relevanceEmbCtes,
         |${ivfGraphCtesFrom("uembs")},
         |${graphRelevanceHitsSql("1_ivf", "gr")}""".stripMargin,


    // x103: the x93 SQ8-shortlist chain over the twin-augmented corpus,
    // same reduction.
    "x103_graph_relevance_sq8" ->
      s"""WITH $relevanceEmbCtes,
         |${ivfSq8GraphCtesFrom("uembs")},
         |${graphRelevanceHitsSql("2_ivf_sq8", "g8")}""".stripMargin,


    // x104: at gate scale no cell overflows (asserted on the driver), so the
    // residual-fenced builder's relevance row is x102's chain with only
    // the arm label changed — under-cap equality proven through the
    // relevance reduction.
    "x104_graph_relevance_residual" ->
      s"""WITH $relevanceEmbCtes,
         |${ivfGraphCtesFrom("uembs")},
         |${graphRelevanceHitsSql("3_residual", "gr")}""".stripMargin,


    // x106: the planted corpus (plantedCtes) + the FULL residual-fence
    // overflow chain (residualFenceCtes) — the oracle replicates the
    // fallback machinery end to end (big cells, residuals, sub-Lloyd,
    // member/prober sub-cells, the (cell, subcell) join), because at
    // this cap the fallback IS the graph.
    "x106_planted_fence_residual" ->
      s"""WITH $plantedCtes,
         |$residualFenceCtes
         |SELECT src_id, nbr_id, cosine, rnk FROM gr WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x107: the depth-2 recursion over the planted corpus in MERGED-mode
    // geometry (deepFenceCtes) — two sub-Lloyd levels, accumulated
    // offsets, per-level cap-bounded emits, the depth-exhaustion
    // remainder, the defensive DISTINCT. The last spec-only fence branch
    // promoted to a hash gate.
    "x107_planted_fence_deep" ->
      s"""WITH $plantedCtes,
         |$deepFenceCtes
         |SELECT src_id, nbr_id, cosine, rnk FROM gr WHERE rnk <= $KnnGraphK
         |ORDER BY src_id, rnk""".stripMargin,


    // x91: the x89 chain verbatim audited against the exact per-node
    // top-k (the x85 brute chain over gn). Integer counts + one divide.
    "x91_knn_graph_ivf_recall" ->
      s"""WITH $ivfGraphCtes,
         |g AS (SELECT src_id, nbr_id FROM gr WHERE rnk <= $KnnGraphK),
         |bs AS (
         |  SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
         |         CAST(${dotSql("a.v", "b.v")} AS DOUBLE)
         |           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
         |  FROM gn a JOIN gn b ON b.vec_id <> a.vec_id),
         |bt AS (
         |  SELECT src_id, nbr_id FROM (
         |    SELECT src_id, nbr_id,
         |           row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS rnk
         |    FROM bs) WHERE rnk <= $KnnGraphK),
         |ec AS (SELECT src_id, CAST(count(*) AS BIGINT) AS n_exact FROM bt GROUP BY 1),
         |h AS (
         |  SELECT bt.src_id, CAST(count(*) AS BIGINT) AS hits_ivf
         |  FROM bt JOIN g ON bt.src_id = g.src_id AND bt.nbr_id = g.nbr_id
         |  GROUP BY 1)
         |SELECT ec.src_id, ec.n_exact,
         |       CAST(COALESCE(h.hits_ivf, 0) AS BIGINT) AS hits_ivf,
         |       CAST(COALESCE(h.hits_ivf, 0) AS DOUBLE) / CAST(ec.n_exact AS DOUBLE) AS recall_at_k
         |FROM ec LEFT JOIN h USING (src_id)
         |ORDER BY src_id""".stripMargin)
}
