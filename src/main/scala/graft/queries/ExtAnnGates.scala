package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.Cdc
import graft.streaming.EventStreams
import graft.tables.Tables

/** similarity search and compressed-index (SQ8/IVF/PQ) gates with their recall audits and the planted positive control — split from the former monolithic Extensions.scala
  * (round 14, pure mechanical move; one object still unions every
  * family — see [[Extensions]]). Registry slices are DEFS, not vals:
  * they are evaluated once at union time in Extensions' constructor,
  * AFTER every mixed-in trait's constants are initialized, so the
  * oracle strings may interpolate any family's constants safely. */
private[queries] trait ExtAnnGates { this: ExtCore =>


  // ---- x06/x07: similarity search ----------------------------------------

  def x06_sim_topk_brute(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "embedding", k = 5)
      .orderBy(col("q_id"), col("rnk"))
  }


  def x07_sim_topk_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "embedding", k = 3, bits = SimBucketBits)
      .orderBy(col("q_id"), col("rnk"))
  }


  // ---- x25: per-label embedding centroids --------------------------------

  /** Exact per-cluster centroids over the quantized embedding table (see
    * Similarity.centroids for the scale shape). */
  def x25_embedding_centroids(s: SparkSession, dir: String): DataFrame =
    Similarity.centroids(Tables.embeddings(s, dir), "label", "embedding")
      .orderBy(col("label"), col("dim"))


  // ---- x47: exact embedding Gram matrix (PCA / whitening prep) ------------

  /** Fixed-point scale for the Gram accumulation: 2^10 (binary, so
    * x·Scale never rounds in the double multiply). Deliberately coarser
    * than Similarity.Scale (2^20): Gram cells sum PRODUCTS over the
    * whole corpus, and 2^10 keeps |q_i·q_j| < 2^20 for unit-magnitude
    * embeddings — long sums stay exact past 10^12 rows, which is the
    * 100 TB overflow budget Similarity's pairwise scale doesn't need. */
  val GramScale = 1024.0


  /** X'X over the embedding corpus — the reduction every whitening /
    * PCA / spectral-diagnostic step starts from. One scan, ONE custom
    * TypedImperativeAggregate (graftfn.GramMatrix) carrying a fixed
    * long[d(d+1)/2] triangle per partial: the shuffle moves one 16 KB
    * buffer per map partition instead of the posexplode-pair form's
    * d(d+1)/2 rows per input row (2080× write amplification at d=64 —
    * fine for the DuckDB oracle at test scale, disqualifying for a
    * corpus scan). Exact integer cells ⇒ bit-stable at any
    * partitioning; the `gram` double is derived from them by two final
    * IEEE divides. The post-aggregate explode emits 2080 rows total. */
  def x47_embedding_gram(s: SparkSession, dir: String): DataFrame = {
    val q = transform(col("embedding"),
      x => round(x.cast(DoubleType) * GramScale).cast(LongType))
    Tables.embeddings(s, dir)
      .select(q.as("q"))
      // count(q), not count(*): GramMatrix skips null vectors, so the
      // mean's denominator must count exactly the contributing rows
      .agg(org.apache.spark.sql.graftfn.GramMatrix.of(col("q"), EmbeddingDims).as("g"),
        count(col("q")).as("n_vectors"))
      .select(col("n_vectors"), explode(col("g")).as("cell"))
      .select(col("cell.i").as("i"), col("cell.j").as("j"),
        col("cell.sum_q").as("sum_q"),
        (col("cell.sum_q").cast(DoubleType) / col("n_vectors").cast(DoubleType)
          / lit(GramScale * GramScale)).as("gram"))
      .orderBy(col("i"), col("j"))
  }


  // ---- x63/x64: SQ8 compressed ANN + its recall price ---------------------

  /** IVF×SQ8 top-k — the production FAISS composition (coarse bucket ×
    * 8-bit scalar codes): the stored ANN payload drops from 21-bit
    * fixed-point longs to int8, the scan goes bandwidth-bound, and
    * ranking stays EXACT integer arithmetic (the SQ8 dot is
    * order-proof, so the oracle reproduces it bit-for-bit). Same bucket
    * equi-join shape as x07; the scales are learned corpus statistics
    * carried as a 1-row broadcast anchor (x56's collect_list form). */
  def x63_sim_topk_ivfsq8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfSq8TopK(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "embedding", k = 3, bits = SimBucketBits)
      .orderBy(col("q_id"), col("rnk"))
  }


  /** x63 with the FAISS nprobe knob turned to bits+1: each query also
    * probes every Hamming-distance-1 bucket, recovering bucket-border
    * neighbors for a bounded candidate-cost increase. Same broadcast
    * equi-join plan family; Sq8Spec asserts the containment this buys
    * (every query's multi-probe top-1 dot ≥ its single-probe top-1). */
  def x69_sim_topk_multiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfSq8TopKMultiProbe(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "embedding", k = 3, bits = SimBucketBits)
      .orderBy(col("q_id"), col("rnk"))
  }


  /** The x50 discipline applied to the compressed vector index:
    * compression is admissible only with its measured recall attached.
    * Over IDENTICAL bucket-mate candidate sets, rank by SQ8 integer dot
    * and by exact fixed-point cosine; per query, count how many exact
    * top-k survive in the compressed top-k (bucket-border loss is x07's
    * number; this isolates pure quantization loss). */
  def x64_sq8_recall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.sq8Recall(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "embedding", k = 3, bits = SimBucketBits)
      .orderBy(col("q_id"))
  }


  /** x70 probe width: 3 of the 10 learned cells ≈ 30% of the corpus per
    * query — deliberately ~equal to x69's Hamming-1 sign expansion
    * ((bits+1)/2^bits = 31%), so x71's recall comparison holds probe cost
    * fixed and isolates the coarse-quantizer design. */
  val IvfNprobe = 3


  /** Learned-centroid IVF×SQ8 (x70) — the FAISS IVF-k-means composition
    * the round-8 verdict named as the one missing published ANN
    * component: cells from exact-integer centroids (the x56 assignment
    * machinery), nprobe nearest cells per query, exact integer SQ8 dot
    * ranking. Same broadcast equi-join plan family as x63/x69; the only
    * BNLJ is the 1-row centroid/scales anchors. */
  def x70_sim_topk_ivfkm(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfSq8TopKLearned(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "label", "embedding", k = 3, nprobe = IvfNprobe)
      .orderBy(col("q_id"), col("rnk"))
  }


  /** x72 Lloyd rounds: 3 is enough to show movement AND stabilization on
    * the benchmarked corpora while keeping the oracle's unrolled CTE
    * chain readable; production runs to a drift tolerance. */
  val KmeansRounds = 3


  /** Iterated k-means (x72) — the Lloyd loop x70's coarse quantizer
    * trains with: each round re-assigns the corpus to the nearest
    * previous-round centroid (broadcast-anchor argmin, the x56
    * machinery) and recomputes exact-integer centroid statistics; the
    * oracle replays every round unrolled (the x60 BPE discipline) and
    * hash-gates each round's complete centroid state via per-cell
    * digests of the integer sum vectors. */
  def x72_kmeans_iterate(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansIterate(Tables.embeddings(s, dir), "vec_id",
        "label", "embedding", KmeansRounds)
      .orderBy(col("round"), col("c_label"))


  /** x73 geometry: 32 hash-seeded Lloyd-trained cells (|cells| decoupled
    * from the 10 metadata labels — the knob the x71 scale finding says
    * production turns), 2 Lloyd rounds, nprobe 10 ⇒ probed fraction
    * 10/32 ≈ 31%, matching x69's (bits+1)/2^bits and x70's 3/10 so the
    * recall comparison stays equal-cost. */
  val ScaledCells = 32

  val ScaledLloydRounds = 2

  val ScaledNprobe = 10


  /** Scaled-cells trained IVF×SQ8 (x73): x70 with the cell count as a
    * free parameter — cells seeded by a deterministic hash split
    * (vec_id mod cells) and refined with x72's exact-integer Lloyd
    * rounds, then the same broadcast cell equi-join + integer SQ8
    * ranking (one shared search tail). The oracle unrolls the seed +
    * Lloyd rounds (kmeansRoundSql with the k-prefix) and replays the
    * search — every trained centroid, every assignment, and the final
    * ranking hash-match across engines. */
  def x73_sim_topk_ivf_scaled(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfSq8TopKScaled(sharedIvfFront(s, dir), e,
        e.filter(col("vec_id") < QuerySetSize), "vec_id", "embedding", k = 3)
      .orderBy(col("q_id"), col("rnk"))
  }


  /** x74 PQ geometry: 8 subspaces × 8 dims, 64 codewords per subspace
    * (6-bit codes ⇒ 6 bytes stored per vector vs 256 for raw floats), 2
    * Lloyd training rounds. The codeword count is the fidelity knob and
    * was CHOSEN BY MEASUREMENT at all three code rates (PLANS.md "x74
    * product-quantization ADC (round 9)" and "PQ priced at the
    * production code rate" hold the tables): sf0.1
    * recall@3 / top-50 coverage run 3/30 & 16/30 at 16
    * codewords, 9/30 & 22/30 at 64, and 8/30 & 25/30 at 256 (8-bit, the
    * production FAISS rate). 64 stays the shipped default ON this
    * table: at the gated corpus size 256 cells/subspace is data-starved
    * (~8 vectors per codeword — the codebook can't even fill), raw
    * recall@3 ties within noise, and the +3 shortlist coverage costs
    * 1.33× storage; a production corpus (≥10⁶ vectors per subspace)
    * flips that trade and runs 256 + refine — priced, not asserted. */
  val PqM = 8

  val PqCodes = 64

  val PqLloydRounds = 2


  /** The quantized (id, v) embedding scan the trained anchors derive
    * from — one spelling, so Spark's cache manager dedupes it against
    * every consumer's own identical scan. */
  private def quantizedEmbs(s: SparkSession, dir: String): DataFrame =
    ExtCaches.persistTracked(Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("v")))

  /** The trained index state the ANN/retrieval family shares (round-15
    * verdict #5 → round 16): x73/x74/x75/x76/x77/x84/x88 all train the
    * SAME coarse quantizer (ScaledCells × ScaledLloydRounds over the raw
    * embeddings) and x74/x75/x76/x88 the SAME PQ codebooks — re-deriving
    * them per gate run roughly doubled the family's largest bench lines
    * (x88 re-trained what x76 had just trained). Training is
    * deterministic exact-integer Lloyd over a value-equal corpus (the
    * x84/x88 arms' semi-joined universe equals raw embeddings — their
    * orphan guard asserts exactly that), so sharing changes cost, never
    * results; every consumer's oracle is unchanged and stays hash-green.
    * The value is driver-held (a LocalRelation of the trained cells), so
    * it holds no executor storage and stays usable after clearCaches. */
  private[graft] def sharedCellStats(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("sharedCellStats", s, dir)(
      Similarity.trainedCellStats(quantizedEmbs(s, dir),
        ScaledCells, ScaledLloydRounds))

  /** PQ codebooks + codes over the raw embeddings (see [[sharedCellStats]]). */
  private[queries] def sharedPqState(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    ExtCaches.anchor("sharedPqState", s, dir)(
      Similarity.pqTrainEncode(quantizedEmbs(s, dir),
        PqM, PqCodes, PqLloydRounds, EmbeddingDims))

  /** The IVF front end over the raw embeddings probed against
    * [[sharedCellStats]] — the normed corpus, its probe relation and the
    * driver-held cell sizes that x76, x77, x89, x91, x93, x94 and x101
    * read instead of re-persisting them per call. Built (and its cell
    * sizes collected, which fills both persisted relations) once per
    * cache epoch, so no consumer call starts a job or fills a cache
    * while it is built. */
  private[graft] def sharedIvfFront(s: SparkSession, dir: String)
      : Similarity.IvfFront =
    ExtCaches.anchor("sharedIvfFront", s, dir) {
      val front = Similarity.ivfFront(Tables.embeddings(s, dir), "vec_id",
        "embedding", sharedCellStats(s, dir), ScaledNprobe)
      front.cellSizes
      front
    }

  /** RESIDUAL PQ state for x77 (round 17): the residual codebooks + codes
    * are deterministic given (raw embeddings, [[sharedCellStats]]) — the
    * sharedPqState discipline applied to the by_residual form, whose
    * joint-Lloyd chain was re-trained per invocation (the family's
    * largest remaining warm line after the r16 anchors). Trained from
    * [[sharedIvfFront]]. Bit-identity pinned by ResidualPqAnchorSpec and
    * the oracle. */
  private[queries] def sharedResidualPqState(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    ExtCaches.anchor("sharedResidualPqState", s, dir)(
      Similarity.residualPqState(sharedIvfFront(s, dir), PqM, PqCodes,
        PqLloydRounds, EmbeddingDims))

  /** Bench pre-warm: materialize the shared anchors (the Lloyd chains
    * train eagerly, one job per round; the PQ code tables are forced here)
    * so the trained-arm family's timed lines run against built state —
    * the warmCcLabels precedent. */
  def warmAnnShared(s: SparkSession, dir: String): Unit =
    // Two independent chains; the IVF front and the residual-PQ anchor
    // consume sharedCellStats, so they ride the first one.
    ExtCaches.warmChains(
      "sharedIvfFront+sharedResidualPqState" -> { () =>
        sharedIvfFront(s, dir)
        sharedResidualPqState(s, dir)._1.count()
      },
      "sharedPqState" -> (() => sharedPqState(s, dir)._1.count()))


  /** Product-quantization ADC top-k (x74) — the third FAISS compression
    * pillar beside SQ8 (x63) and IVF (x07/x70/x73): per-subspace
    * codebooks trained by the joint exact-integer Lloyd chain, vectors
    * stored as m code ids, ranking via per-query lookup tables with an
    * explicit left-associated m-term sum so the double scores
    * hash-match across engines. */
  def x74_sim_topk_pq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopK(sharedPqState(s, dir),
        e.filter(col("vec_id") < QuerySetSize), "vec_id", k = 3, m = PqM,
        codes = PqCodes)
      .orderBy(col("q_id"), col("rnk"))
  }


  /** x75 refine depth: the ADC shortlist the exact re-rank touches —
    * 50 of 2,000 at sf0.1 = 2.5% of the corpus pays exact math. */
  val PqShortlist = 50


  /** PQ shortlist + exact re-rank (x75) — the FAISS refine composition:
    * x74's cheap ADC ranking generates a `PqShortlist`-deep candidate
    * list per query, the exact fixed-point cosine re-ranks only those.
    * The oracle replays the whole chain (codebooks, codes, ADC
    * shortlist, exact re-rank), so the hash gate pins the composition
    * end to end. */
  def x75_sim_topk_pq_refined(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopKRefined(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "embedding", k = 3, shortlist = PqShortlist, m = PqM,
        codes = PqCodes, pqState = sharedPqState(s, dir))
      .orderBy(col("q_id"), col("rnk"))
  }


  /** IVF×PQ composed search (x76) — the production FAISS index shape
    * (IVFPQ with `by_residual=false`), composing the pillars the family
    * built separately: x73's TRAINED coarse quantizer prunes the scan to
    * each query's nprobe nearest cells, and x74's ADC tables score ONLY
    * those cells' members — the probed fraction bounds the candidate
    * count (here 10/32 ≈ 31%, matching the family's equal-budget recall
    * comparisons) and the PQ codes bound the per-candidate cost to m
    * table lookups. This retires the exhaustive full-corpus ADC scan as
    * the only PQ search path (x74/x75 stay as the documented unpruned
    * baseline, like x06 beside the IVF variants). Geometry reuses x73's
    * cell constants and x74's codebook constants VERBATIM so every
    * recall number composes across the family tables. */
  def x76_sim_topk_ivf_pq(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(sharedIvfFront(s, dir),
        e.filter(col("vec_id") < QuerySetSize), "vec_id", k = 3, m = PqM,
        codes = PqCodes, pqState = sharedPqState(s, dir))
      .orderBy(col("q_id"), col("rnk"))
  }


  /** Residual IVF×PQ (x77) — FAISS `by_residual=true`, the library
    * DEFAULT and the form production IVFPQ deployments run: identical
    * geometry to x76 (same trained cells, same probe budget, same m ×
    * codes budget), but the codebooks are trained on (vector − its
    * cell's rounded centroid) and the ADC score carries the exact
    * per-(query, cell) integer coarse bias dot(q, cbar) — residuals
    * concentrate around the origin, so the same code budget quantizes a
    * smaller ball and the ranking tracks the true dot product tighter.
    * x76 vs x77 is therefore a measured statement about what residual
    * encoding buys at fixed storage, with both variants oracle-gated. */
  def x77_sim_topk_ivf_pq_residual(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqResidualTopK(sharedIvfFront(s, dir),
        e.filter(col("vec_id") < QuerySetSize), "vec_id", k = 3, m = PqM,
        codes = PqCodes, dims = EmbeddingDims,
        pqState = sharedResidualPqState(s, dir))
      .orderBy(col("q_id"), col("rnk"))
  }


  // ---- x95–x97: the planted-structure positive control (round 12) ---------

  /** Cluster purity of the label-free clustering ON THE PLANTED CORPUS
    * (x95) — x92's exact chain (banded kNN graph → mutual edges →
    * star-CC → label confusion) run over [[graft.ext.Planted]] vectors
    * derived from the same ids, confronted with the PLANTED labels. The
    * positive control the round-11 verdict named #1: on the i.i.d.
    * corpus x92 read ≈ chance and proved the cause was the corpus
    * (labels with zero neighborhood signal); here the labels ARE the
    * neighborhoods, so purity must read ≈ 1 — if it doesn't, x81's
    * chain has a real bug the i.i.d. corpus hid. MEASURED (sf0.001/
    * 0.01/0.1): majority purity = 1.0000 exactly at every SF — every
    * component is single-label (41/41, 41/41, 179/179), zero
    * cross-label mass — vs x92's 0.49/0.47/0.20 on the same ids'
    * i.i.d. vectors: the structured-vs-i.i.d. pair for the clustering
    * layer. (The mutual-k=3 graph splits each ~n/10 planted cluster
    * into chain-shaped sub-components — 41/179 components over 10
    * clusters, with 401/401/1539 of n vectors carrying mutual edges —
    * exactly the SemDeDup partition behavior: components never CROSS a
    * planted boundary, which is the property purity measures.) */
  def x95_planted_purity(s: SparkSession, dir: String): DataFrame = {
    val pe = plantedEmbs(s, dir)
    bandedMutualCcLabels(s, dir, pe, "planted")
      .select(col("v").as("vec_id"), col("label").as("canonical_id"))
      .join(pe.select(col("vec_id"), col("label").as("planted_label")),
        Seq("vec_id"))
      .groupBy(col("canonical_id"), col("planted_label"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("canonical_id"), col("planted_label"))
  }


  /** Banded-graph recall ON THE PLANTED CORPUS (x96) — x85's audit over
    * [[graft.ext.Planted]] vectors: within a planted cluster every
    * coordinate sign agrees (CenterMin > JitterMax), so cluster twins
    * collide in EVERY sampled band and x85's own collision geometry
    * predicts recall ≈ 1 where the i.i.d. corpus measured 0.009–0.014.
    * MEASURED (sf0.001/0.01/0.1): recall@3 = 1.0000 exactly at every SF
    * (1500/1500, 1500/1500, 6000/6000) — every true top-3 neighbor is
    * same-cluster (cosine ≈ 0.93–0.97 vs cross ≈ 0 ± 0.12) and every
    * same-cluster pair is a full-band collision. The pair of numbers
    * (x85 ≈ 0.01 vs x96 = 1.0) turns "banding is a near-dup generator"
    * from a verdict into a measured two-sided fact: ~1 % at
    * sub-collision cosines, 100 % inside its regime. */
  def x96_planted_knn_recall(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraphRecall(plantedEmbs(s, dir),
        "vec_id", "embedding", k = KnnGraphK, bands = SampledBands,
        bitsPerBand = SampledBandBits, dims = EmbeddingDims,
        seed = SampledSeed)
      .orderBy(col("src_id"))


  /** IVF-graph recall ON THE PLANTED CORPUS (x97) — x91's audit over the
    * planted vectors at the same geometry (32 cells, nprobe 10, fenced):
    * the structured-vs-i.i.d. pair for the trained-quantizer arm.
    * MEASURED (sf0.001/0.01/0.1): recall@3 = 1.0000 exactly at every SF
    * (1500/1500, 1500/1500, 6000/6000) vs 0.744/0.732/0.698 on i.i.d. —
    * Lloyd cells align with planted clusters, so a node's 10 probed
    * cells always include its true neighbors' cell; the 26–30 % the
    * probe budget loses on i.i.d. vectors is boundary loss that planted
    * structure simply does not have. */
  def x97_planted_ivf_recall(s: SparkSession, dir: String): DataFrame =
    Similarity.graphEdgesRecall(plantedEmbs(s, dir),
        Similarity.knnGraphIvf(plantedIvfFront(s, dir), k = KnnGraphK,
          maxCellSize = Some(KnnCellCap), assertUnderCap = false),
        "vec_id", "embedding", k = KnnGraphK, hitsCol = "hits_ivf")
      .orderBy(col("src_id"))


  /** Three-way coarse-quantizer recall table (x71): per query, the exact
    * full-corpus top-k overlap kept by single-probe sign SQ8 (x63),
    * Hamming-1 multi-probe sign SQ8 (x69), and learned-centroid IVF at
    * nprobe cells (x70) — the latter two at ~equal probed corpus
    * fraction (~31% vs ~30%). The x64 discipline one level up: x64
    * froze candidates to isolate quantization loss; this frees them and
    * prices each coarse-quantizer design. All-integer output. */
  def x71_ivf_recall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfRecallCompare(e, e.filter(col("vec_id") < QuerySetSize),
        "vec_id", "label", "embedding", k = 3, bits = SimBucketBits,
        nprobe = IvfNprobe)
      .orderBy(col("q_id"))
  }


  // ---- x56: nearest-centroid assignment / semantic cluster purity ---------

  def x56_cluster_purity(s: SparkSession, dir: String): DataFrame =
    Similarity.nearestCentroidPurity(Tables.embeddings(s, dir), "vec_id",
        "label", "embedding")
      .orderBy(col("label"), col("assigned_label"))

  protected def queriesAnn: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x06_sim_topk_brute" -> (x06_sim_topk_brute _),
    "x07_sim_topk_ivf" -> (x07_sim_topk_ivf _),
    "x25_embedding_centroids" -> (x25_embedding_centroids _),
    "x47_embedding_gram" -> (x47_embedding_gram _),
    "x56_cluster_purity" -> (x56_cluster_purity _),
    "x63_sim_topk_ivfsq8" -> (x63_sim_topk_ivfsq8 _),
    "x64_sq8_recall" -> (x64_sq8_recall _),
    "x69_sim_topk_multiprobe" -> (x69_sim_topk_multiprobe _),
    "x70_sim_topk_ivfkm" -> (x70_sim_topk_ivfkm _),
    "x71_ivf_recall" -> (x71_ivf_recall _),
    "x72_kmeans_iterate" -> (x72_kmeans_iterate _),
    "x73_sim_topk_ivf_scaled" -> (x73_sim_topk_ivf_scaled _),
    "x74_sim_topk_pq" -> (x74_sim_topk_pq _),
    "x75_sim_topk_pq_refined" -> (x75_sim_topk_pq_refined _),
    "x76_sim_topk_ivf_pq" -> (x76_sim_topk_ivf_pq _),
    "x77_sim_topk_ivf_pq_residual" -> (x77_sim_topk_ivf_pq_residual _),
    "x95_planted_purity" -> (x95_planted_purity _),
    "x96_planted_knn_recall" -> (x96_planted_knn_recall _),
    "x97_planted_ivf_recall" -> (x97_planted_ivf_recall _))

  protected def oracleSqlAnn: Map[String, String] = Map(

    "x06_sim_topk_brute" ->
      s"""WITH qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |q AS (SELECT vec_id AS q_id, v AS qvec, norm_sq AS qn FROM n WHERE vec_id < $QuerySetSize),
         |scored AS (
         |  SELECT q_id, c.vec_id AS c_id,
         |         CAST(${dotSql("qvec", "c.v")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm_sq AS DOUBLE))) AS cosine
         |  FROM q JOIN n c ON c.vec_id <> q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT q_id, c_id, cosine, rnk FROM r WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin,


    "x07_sim_topk_ivf" ->
      s"""WITH qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq,
         |         ${bucketSql("v")} AS bucket
         |  FROM qv),
         |q AS (SELECT vec_id AS q_id, v AS qvec, norm_sq AS qn, bucket FROM n WHERE vec_id < $QuerySetSize),
         |scored AS (
         |  SELECT q_id, q.bucket AS bucket, c.vec_id AS c_id,
         |         CAST(${dotSql("qvec", "c.v")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm_sq AS DOUBLE))) AS cosine
         |  FROM q JOIN n c ON q.bucket = c.bucket AND c.vec_id <> q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT q_id, bucket, c_id, cosine, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x63: the SQ8 code CTE is shared with x64 (one spelling, no drift);
    // ranking is an all-integer dot of codes, so the compare is exact.
    "x63_sim_topk_ivfsq8" ->
      s"""WITH $sq8CodesCte,
         |q AS (SELECT vec_id AS q_id, code AS q_code, bucket FROM cb
         |      WHERE vec_id < $QuerySetSize),
         |scored AS (
         |  SELECT q_id, q.bucket AS bucket, c.vec_id AS c_id,
         |         ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM q JOIN cb c ON q.bucket = c.bucket AND c.vec_id <> q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT q_id, bucket, c_id, dot_q8, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x69: the probe expansion is a string-literal flip per position —
    // identical in both engines; buckets are disjoint so no dedupe. The
    // probe count and substr width interpolate from SimBucketBits, the
    // same constant the Scala call passes (round-8 advice fix).
    "x69_sim_topk_multiprobe" ->
      s"""WITH $sq8CodesCte,
         |q0 AS (SELECT vec_id AS q_id, code AS q_code, bucket FROM cb
         |       WHERE vec_id < $QuerySetSize),
         |q AS (
         |  SELECT q_id, q_code,
         |         unnest(list_transform(range(0, ${SimBucketBits + 1}), i ->
         |           CASE WHEN i = 0 THEN bucket
         |                ELSE substr(bucket, 1, CAST(i - 1 AS INT)) ||
         |                     (CASE WHEN substr(bucket, CAST(i AS INT), 1) = '1'
         |                           THEN '0' ELSE '1' END) ||
         |                     substr(bucket, CAST(i + 1 AS INT), $SimBucketBits)
         |           END)) AS bucket
         |  FROM q0),
         |scored AS (
         |  SELECT q_id, c.vec_id AS c_id,
         |         ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM q JOIN cb c ON q.bucket = c.bucket AND c.vec_id <> q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT q_id, c_id, dot_q8, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x64: both rankings over the SAME bucket-mate candidates — the
    // doubles (cosine, recall) are computed from identical integers by
    // identical single expressions, so they hash-match. Recall divides
    // by LEAST(k, candidate count): a sparse bucket keeps all its mates
    // under both rankings and must read 1.0, not |mates|/k (round-8
    // advice fix, mirrored in Similarity.sq8Recall).
    "x64_sq8_recall" ->
      s"""WITH $sq8CodesCte,
         |n AS (
         |  SELECT vec_id, code, bucket, ${quantSql("embedding")} AS vq
         |  FROM cb JOIN embeddings USING (vec_id)),
         |n2 AS (SELECT vec_id, code, bucket, vq, ${dotSql("vq", "vq")} AS norm FROM n),
         |q AS (SELECT vec_id AS q_id, code AS q_code, vq AS q_vq,
         |             norm AS qn, bucket
         |      FROM n2 WHERE vec_id < $QuerySetSize),
         |scored AS (
         |  SELECT q_id, c.vec_id AS c_id,
         |         ${dotSql("q_code", "c.code")} AS dot_q8,
         |         CAST(${dotSql("q_vq", "c.vq")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm AS DOUBLE))) AS cosine
         |  FROM q JOIN n2 c ON q.bucket = c.bucket AND c.vec_id <> q_id),
         |rr AS (
         |  SELECT q_id,
         |         row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS rnk8,
         |         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnkx
         |  FROM scored)
         |SELECT q_id,
         |       CAST(SUM(CASE WHEN rnk8 <= 3 AND rnkx <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |       CAST(SUM(CASE WHEN rnk8 <= 3 AND rnkx <= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(LEAST(3, COUNT(*)) AS DOUBLE) AS recall_at_k
         |FROM rr GROUP BY q_id
         |ORDER BY q_id""".stripMargin,


    // x70: the x56 centroid chain ranks every (vector, centroid) pair;
    // rn = 1 is the corpus cell assignment, rn <= nprobe the query probe
    // list; ranking is the all-integer SQ8 dot — exact compare.
    "x70_sim_topk_ivfkm" ->
      s"""WITH $centroidScoreCtes,
         |$sq8CodesCte,
         |lrank AS (
         |  SELECT vec_id, c_label,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
         |  FROM scored),
         |lcells AS (
         |  SELECT r.vec_id, r.c_label AS cell, cb.code
         |  FROM lrank r JOIN cb USING (vec_id) WHERE rn = 1),
         |lq AS (
         |  SELECT r.vec_id AS q_id, r.c_label AS cell, cb.code AS q_code
         |  FROM lrank r JOIN cb USING (vec_id)
         |  WHERE rn <= $IvfNprobe AND r.vec_id < $QuerySetSize),
         |lscored AS (
         |  SELECT q_id, lq.cell AS cell, c.vec_id AS c_id,
         |         ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM lq JOIN lcells c ON lq.cell = c.cell AND c.vec_id <> q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS BIGINT) AS rnk
         |  FROM lscored)
         |SELECT q_id, cell, c_id, dot_q8, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x71: the exact full-corpus top-k (quantized cosine — the x06
    // kernel) intersected with each coarse-quantizer's top-k; counts are
    // integers, so the three-way comparison hash-matches exactly.
    "x71_ivf_recall" ->
      s"""WITH $centroidScoreCtes,
         |$sq8CodesCte,
         |bn AS (SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |bq AS (SELECT vec_id AS q_id, v AS qvec, norm_sq AS qn FROM bn
         |       WHERE vec_id < $QuerySetSize),
         |bscored AS (
         |  SELECT q_id, c.vec_id AS c_id,
         |         CAST(${dotSql("qvec", "c.v")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm_sq AS DOUBLE))) AS cosine
         |  FROM bq JOIN bn c ON c.vec_id <> q_id),
         |btop AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |    FROM bscored) WHERE rnk <= 3),
         |sq AS (SELECT vec_id AS q_id, code AS q_code, bucket FROM cb
         |       WHERE vec_id < $QuerySetSize),
         |sscored AS (
         |  SELECT q_id, c.vec_id AS c_id, ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM sq JOIN cb c ON sq.bucket = c.bucket AND c.vec_id <> q_id),
         |stop AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS rnk
         |    FROM sscored) WHERE rnk <= 3),
         |mq AS (
         |  SELECT q_id, q_code,
         |         unnest(list_transform(range(0, ${SimBucketBits + 1}), i ->
         |           CASE WHEN i = 0 THEN bucket
         |                ELSE substr(bucket, 1, CAST(i - 1 AS INT)) ||
         |                     (CASE WHEN substr(bucket, CAST(i AS INT), 1) = '1'
         |                           THEN '0' ELSE '1' END) ||
         |                     substr(bucket, CAST(i + 1 AS INT), $SimBucketBits)
         |           END)) AS bucket
         |  FROM sq),
         |mscored AS (
         |  SELECT q_id, c.vec_id AS c_id, ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM mq JOIN cb c ON mq.bucket = c.bucket AND c.vec_id <> q_id),
         |mtop AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS rnk
         |    FROM mscored) WHERE rnk <= 3),
         |lrank AS (
         |  SELECT vec_id, c_label,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
         |  FROM scored),
         |lcells AS (
         |  SELECT r.vec_id, r.c_label AS cell, cb.code
         |  FROM lrank r JOIN cb USING (vec_id) WHERE rn = 1),
         |lq AS (
         |  SELECT r.vec_id AS q_id, r.c_label AS cell, cb.code AS q_code
         |  FROM lrank r JOIN cb USING (vec_id)
         |  WHERE rn <= $IvfNprobe AND r.vec_id < $QuerySetSize),
         |lscored AS (
         |  SELECT q_id, c.vec_id AS c_id, ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM lq JOIN lcells c ON lq.cell = c.cell AND c.vec_id <> q_id),
         |ltop AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS rnk
         |    FROM lscored) WHERE rnk <= 3),
         |bcount AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
         |           FROM btop GROUP BY 1),
         |hs AS (SELECT b.q_id, CAST(count(*) AS BIGINT) AS hits_sign
         |       FROM btop b JOIN stop s ON b.q_id = s.q_id AND b.c_id = s.c_id
         |       GROUP BY 1),
         |hm AS (SELECT b.q_id, CAST(count(*) AS BIGINT) AS hits_multiprobe
         |       FROM btop b JOIN mtop m ON b.q_id = m.q_id AND b.c_id = m.c_id
         |       GROUP BY 1),
         |hl AS (SELECT b.q_id, CAST(count(*) AS BIGINT) AS hits_ivfkm
         |       FROM btop b JOIN ltop l ON b.q_id = l.q_id AND b.c_id = l.c_id
         |       GROUP BY 1)
         |SELECT q_id, n_exact,
         |       CAST(COALESCE(hits_sign, 0) AS BIGINT) AS hits_sign,
         |       CAST(COALESCE(hits_multiprobe, 0) AS BIGINT) AS hits_multiprobe,
         |       CAST(COALESCE(hits_ivfkm, 0) AS BIGINT) AS hits_ivfkm
         |FROM bcount
         |LEFT JOIN hs USING (q_id) LEFT JOIN hm USING (q_id)
         |LEFT JOIN hl USING (q_id)
         |ORDER BY q_id""".stripMargin,


    // x72: the Lloyd loop unrolled round by round (the x60 discipline);
    // each round's ENTIRE centroid state hash-gates via per-cell digests
    // of the exact integer sum vectors — a one-vector assignment flip in
    // any round changes that cell's digest and fails the compare.
    "x72_kmeans_iterate" ->
      s"""WITH $centroidScoreCtes,
         |${(1 to KmeansRounds).map(r => kmeansRoundSql(r)).mkString(",\n")}
         |SELECT round, c_label, n_vecs, centroid_digest
         |FROM (${(1 to KmeansRounds).map(r => s"SELECT * FROM row_$r").mkString(" UNION ALL ")})
         |ORDER BY round, c_label""".stripMargin,


    // x73: hash-split seed centroids (vec_id mod cells), the Lloyd
    // rounds unrolled under the k-prefix, then the x70 search chain
    // against the TRAINED final centroids — cells decoupled from labels.
    "x73_sim_topk_ivf_scaled" ->
      s"""WITH $centroidScoreCtes,
         |$trainedCellCtes,
         |$sq8CodesCte,
         |kcells AS (
         |  SELECT r.vec_id, r.c_label AS cell, cb.code
         |  FROM krank r JOIN cb USING (vec_id) WHERE rn = 1),
         |kq AS (
         |  SELECT r.vec_id AS q_id, r.c_label AS cell, cb.code AS q_code
         |  FROM krank r JOIN cb USING (vec_id)
         |  WHERE rn <= $ScaledNprobe AND r.vec_id < $QuerySetSize),
         |ks AS (
         |  SELECT q_id, kq.cell AS cell, c.vec_id AS c_id,
         |         ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM kq JOIN kcells c ON kq.cell = c.cell AND c.vec_id <> q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS BIGINT) AS rnk
         |  FROM ks)
         |SELECT q_id, cell, c_id, dot_q8, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x74: the PQ chain unrolled — subvector split, hash-seeded per-
    // subspace codebooks, Lloyd rounds, round R+1's assignment as the
    // stored codes, per-query ADC tables looked up BY CODE KEY, and the
    // m-term score spelled as an explicit left-associated addition so
    // the doubles are bit-identical.
    "x74_sim_topk_pq" ->
      s"""WITH $pqChainCtes,
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_pq DESC, c_id) AS BIGINT) AS rnk
         |  FROM scoredq)
         |SELECT q_id, c_id, score_pq, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x75: the x74 chain verbatim (one factored spelling), the ADC rank
    // cut at the shortlist depth, and the exact fixed-point cosine
    // re-ranking ONLY the shortlist — the refine composition end to end.
    "x75_sim_topk_pq_refined" ->
      s"""WITH $pqChainCtes,
         |pqr AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_pq DESC, c_id) AS rnk
         |  FROM scoredq),
         |short AS (SELECT q_id, c_id FROM pqr WHERE rnk <= $PqShortlist),
         |nrm AS (SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |rer AS (
         |  SELECT s.q_id, s.c_id,
         |         CAST(${dotSql("a.v", "b.v")} AS DOUBLE)
         |           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
         |  FROM short s
         |  JOIN nrm a ON a.vec_id = s.q_id
         |  JOIN nrm b ON b.vec_id = s.c_id),
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT q_id, c_id, cosine, rnk FROM rr WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x76: the IVF×PQ composition — the x74 PQ chain (stored codes +
    // per-query ADC tables) with x73's trained-cell chain in front of
    // it: every corpus row's cell is its rank-1 trained centroid, every
    // query probes its nprobe nearest trained cells, and the explicit
    // m-term ADC sum (pqTermSql — the x74 spelling verbatim) scores only
    // the probed cells' members. The unreferenced exhaustive `scoredq`
    // CTE from the shared chain is never executed.
    "x76_sim_topk_ivf_pq" ->
      s"""WITH $pqChainCtes,
         |$trainedCellCtes,
         |kcells AS (
         |  SELECT r.vec_id, r.c_label AS cell, cr.code
         |  FROM krank r JOIN codesrel cr USING (vec_id) WHERE rn = 1),
         |kq AS (
         |  SELECT r.vec_id AS q_id, r.c_label AS cell, lt.lut AS lut
         |  FROM krank r JOIN lut lt ON lt.q_id = r.vec_id
         |  WHERE rn <= $ScaledNprobe),
         |ks AS (
         |  SELECT l.q_id, l.cell, c.vec_id AS c_id,
         |         $pqTermSql AS score_pq
         |  FROM kq l JOIN kcells c ON l.cell = c.cell AND c.vec_id <> l.q_id),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_pq DESC, c_id) AS BIGINT) AS rnk
         |  FROM ks)
         |SELECT q_id, cell, c_id, score_pq, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x77: the residual IVF×PQ composition — the x76 trained-cell chain,
    // integer-rounded centroids (cbar), the PQ chain retargeted at the
    // corpus RESIDUALS (rpq prefix, same pqRoundSql spelling), per-query
    // LUTs from FULL query subvectors vs the residual codebook, and the
    // score = exact-integer coarse bias + the m-term ADC sum, folded
    // left-to-right so the doubles are bit-identical.
    "x77_sim_topk_ivf_pq_residual" ->
      s"""WITH $centroidScoreCtes,
         |$trainedCellCtes,
         |$residualPqCtes,
         |rks AS (
         |  SELECT l.q_id, l.cell, c.vec_id AS c_id,
         |         CAST(l.bias AS DOUBLE)
         |         + $pqTermSql AS score_pq
         |  FROM rkq l JOIN rkcells c ON l.cell = c.cell AND c.vec_id <> l.q_id),
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_pq DESC, c_id) AS BIGINT) AS rnk
         |  FROM rks)
         |SELECT q_id, cell, c_id, score_pq, rnk FROM rr WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,


    // x95: the x92 chain verbatim over the PLANTED corpus (pe replaces
    // embeddings as the vector source; the confusion column is the
    // PLANTED label). The positive control: purity must read ≈ 1.
    "x95_planted_purity" ->
      s"""WITH RECURSIVE $plantedCtes,
         |${knnEdgeCtesFrom("pe")},
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
         |SELECT lab.label AS canonical_id, pl.label AS planted_label,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM lab JOIN pl ON pl.vec_id = lab.v
         |GROUP BY 1, 2
         |ORDER BY canonical_id, planted_label""".stripMargin,


    // x96: the x85 banded-recall audit verbatim over the planted corpus.
    "x96_planted_knn_recall" ->
      s"""WITH $plantedCtes,
         |${knnEdgeCtesFrom("pe")},
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


    // x97: the x91 IVF-recall audit verbatim over the planted corpus.
    "x97_planted_ivf_recall" ->
      s"""WITH $plantedCtes,
         |${ivfGraphCtesFrom("pe")},
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
         |ORDER BY src_id""".stripMargin,


    // x56: exact integer centroid sums (DuckDB SUM(BIGINT) is HUGEINT —
    // the |s|² accumulation the Spark side does in DECIMAL(38,0)); the
    // score t mirrors the Spark expression tree operand-for-operand so
    // the doubles are bit-identical; output is all-integer.
    "x56_cluster_purity" ->
      s"""WITH $centroidScoreCtes,
         |assigned AS (
         |  SELECT vec_id, label, c_label,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
         |  FROM scored)
         |SELECT label, c_label AS assigned_label, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM assigned WHERE rn = 1
         |GROUP BY 1, 2
         |ORDER BY label, assigned_label""".stripMargin,


    // x47: the oracle affords the 2080-per-row pair explosion the Spark
    // side refuses; same binary-scale quantization (exact multiply,
    // round half-away-from-zero in both engines), exact integer cells,
    // 0-based indices surfaced from DuckDB's 1-based lists.
    "x47_embedding_gram" ->
      s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |           x -> CAST(round(CAST(x AS DOUBLE) * $GramScale) AS BIGINT)) AS v
         |  FROM embeddings),
         |n AS (SELECT count(v) AS n_vectors FROM q),
         |cells AS (
         |  SELECT i, j,
         |         CAST(SUM(v[CAST(i AS INT)] * v[CAST(j AS INT)]) AS BIGINT) AS sum_q
         |  FROM q,
         |       unnest(range(1, ${EmbeddingDims + 1})) AS u(i),
         |       unnest(range(1, ${EmbeddingDims + 1})) AS w(j)
         |  WHERE j >= i
         |  GROUP BY i, j)
         |SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j, sum_q,
         |       CAST(sum_q AS DOUBLE) / CAST(n.n_vectors AS DOUBLE)
         |         / ${GramScale * GramScale} AS gram
         |FROM cells, n
         |ORDER BY i, j""".stripMargin,


    "x25_embedding_centroids" ->
      s"""WITH q AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |         unnest(range(0, len(embedding))) AS dim,
         |         unnest(${quantSql("embedding")}) AS q
         |  FROM embeddings)
         |SELECT label, CAST(dim AS BIGINT) AS dim,
         |       count(*) AS n_vectors,
         |       CAST(sum(q) AS BIGINT) AS sum_q,
         |       CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / count(*)
         |         / ${Similarity.Scale} AS centroid
         |FROM q GROUP BY 1, 2
         |ORDER BY label, dim""".stripMargin)
}
