package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.Cdc
import graft.streaming.EventStreams
import graft.tables.Tables

/** exact/near-duplicate detection, clustering, and span-level dedup gates — split from the former monolithic Extensions.scala
  * (round 14, pure mechanical move; one object still unions every
  * family — see [[Extensions]]). Registry slices are DEFS, not vals:
  * they are evaluated once at union time in Extensions' constructor,
  * AFTER every mixed-in trait's constants are initialized, so the
  * oracle strings may interpolate any family's constants safely. */
private[queries] trait ExtDedupGates { this: ExtCore =>

  // ---- x01: exact dedup ---------------------------------------------------

  def x01_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupSummary(Tables.documents(s, dir), "text")


  // ---- x02: exact n-gram Jaccard near-dup (inverted index) ---------------

  def x02_dedup_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 3, threshold = JaccardThreshold)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x03: MinHash + LSH near-dup ---------------------------------------

  def x03_dedup_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 3, perms = 16, bands = 4, threshold = JaccardThreshold)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x20: duplicate-cluster resolution over the x03 pair graph ---------

  /** The x03 near-dup pair graph — THE one spelling of its tuning, shared
    * by both component forms: x20 and x20_star must stay oracle-equal
    * against the same dupClustersSql, so a parameter change must reach
    * both (and the oracle CTE) or neither. */
  private[queries] def minhashPairGraph(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 3, perms = 16, bands = 4, threshold = JaccardThreshold)
      .select(col("id_a"), col("id_b"))


  /** Component labels over the x03 MinHash-LSH pair graph, shared by x20
    * (cluster summary) and x23 (survivor anti-join) — the fixpoint is
    * EAGER and iterative (see Dedup.connectedComponents), so running it
    * once per epoch matters: a real pipeline computes components once and
    * derives every downstream view from them. The labels sit on a
    * lineage-truncated (localCheckpoint) final round, so holding the
    * DataFrame is cheap. */
  private[queries] def minhashDupLabels(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("minhashDupLabels", s, dir)(
      Dedup.connectedComponents(minhashPairGraph(s, dir), "id_a", "id_b"))


  /** What a dedup pipeline runs AFTER pairing: connected components over
    * the near-dup pairs, one canonical doc per cluster. Iterative
    * min-label propagation (see Dedup.connectedComponents for the scale
    * story); the oracle computes the same fixpoint with a recursive CTE. */
  def x20_dup_clusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSummary(minhashDupLabels(s, dir))
      .orderBy(col("canonical_id"))


  /** Same labels as [[minhashDupLabels]] but computed by the O(log n)-round
    * large-star/small-star rewrite (Dedup.connectedComponentsStar) — the
    * form that survives high-diameter pair graphs at extreme scale. Held
    * separately so x20 and x20_star each exercise their own algorithm
    * end-to-end; eager like the propagation form. */
  private[queries] def minhashDupLabelsStar(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("minhashDupLabelsStar", s, dir)(
      Dedup.connectedComponentsStar(minhashPairGraph(s, dir), "id_a", "id_b"))


  /** x20 through the alternating large-star/small-star component algorithm
    * (Kiveris et al., SoCC'14) instead of min-label propagation — the same
    * cluster summary, proven against the SAME recursive-CTE oracle. This is
    * the O(log n) path the 100 TB dedup story rests on: propagation needs
    * diameter-many rounds (ruinous on chain-shaped near-dup graphs), the
    * star form converges in O(log n) regardless of shape. Oracle-gating it
    * here proves the scale path end-to-end, not just property-equivalent. */
  def x20_dup_clusters_star(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSummary(minhashDupLabelsStar(s, dir))
      .orderBy(col("canonical_id"))


  /** Bench hooks: materialize the shared component-label fixpoints so the
    * harness can charge them as their own timed lines (the fixpoints are
    * eager — construction runs the full iterative job — and shared across
    * x20/x23/x26, so letting whichever consumer runs first absorb the cost
    * in a median-hidden first rep misreports both). */
  def warmCcLabels(s: SparkSession, dir: String): Unit = {
    minhashDupLabels(s, dir); ()
  }

  def warmStarLabels(s: SparkSession, dir: String): Unit = {
    minhashDupLabelsStar(s, dir); ()
  }


  // ---- x04: SimHash fingerprints + near-dup pairs ------------------------

  def x04_dedup_simhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Dedup.simhash(TextOps.tokens(col("text")), bits = 32).as("simhash"))
      .orderBy(col("doc_id"))


  def x04_dedup_simhash_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
        x04_dedup_simhash(s, dir), "doc_id", "simhash", maxDist = 2)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x05: embedding-cosine near-dup ------------------------------------

  def x05_dedup_embedding(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", CosineDupThreshold, CosineBands, CosineBandBits)
      .orderBy(col("id_a"), col("id_b"))


  /** The sampled-band variant of x05 — the corpus-size scale path the
    * round-5 soak forced (SCALING.md: fixed 8×8 banding saturates its
    * 256-key space past ~10k vectors and goes quadratic; 16×16 sampled
    * from the full sign signature keeps candidates ~linear). Oracle-gated
    * here for the same reason x20_star is: the scale path must be proven
    * end-to-end against an oracle computing the identical banded
    * semantics, not just property-tested. The sampled coordinate table is
    * generated ONCE ([[Similarity.sampledCoords]]) and interpolated into
    * both the Spark expression and the oracle SQL. */
  def x05_dedup_embedding_sampled(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsSampled(Tables.embeddings(s, dir), "vec_id",
        "embedding", CosineDupThreshold, SampledBands, SampledBandBits,
        EmbeddingDims, SampledSeed)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x23: end-to-end dedup — the surviving corpus ----------------------

  /** The pipeline a training-data build actually runs: near-dup pair
    * generation (x03's MinHash+LSH) → connected components (x20) → drop
    * every non-canonical cluster member with one LEFT ANTI join against
    * the corpus. Exact duplicates need no separate pass — identical texts
    * have identical signatures, so they always share every band bucket.
    * The anti-join is the scale shape: the dropped-id side is |non-
    * canonical members| (tiny next to the corpus) and broadcasts; the
    * corpus is never shuffled. Eager like x20 (the component fixpoint
    * must run to build the plan). */
  def x23_dedup_survivors(s: SparkSession, dir: String): DataFrame = {
    val dropped = minhashDupLabels(s, dir)
      .filter(col("label") =!= col("v"))
      .select(col("v").as("doc_id"))
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }


  /** Incremental near-dup dedup of an incoming batch against the ingested
    * base (Dedup.incrementalDedup keyed on the min-shingle fingerprint —
    * the x11 1-perm MinHash, which actually fires on this corpus where
    * exact text collisions don't exist): base ships only its distinct
    * fingerprint index, first-wins within the batch is one hash
    * aggregate, the base check one anti-join. */
  def x33_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    Dedup.incrementalDedup(
        docs.filter(inBase), docs.filter(!inBase), "doc_id",
        TextOps.fingerprint(TextOps.tokens(col("text"))))
      .orderBy(col("doc_id"))
  }


  // ---- x36: quality-policy cluster representatives ------------------------

  /** The survivor policy production dedup actually ships: keep each
    * near-dup cluster's BEST-QUALITY member (x09 score, smallest-id
    * tiebreak), not x23's smallest-id canonical. Rides the SHARED x20
    * component fixpoint (minhashDupLabels — one CC run serves x20/x23/x26
    * and this) plus the x09 scoring pass; the selection itself is the
    * q06 sort-free max_by idiom (see Dedup.clusterRepresentatives). */
  def x36_cluster_reps(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterRepresentatives(
        minhashDupLabels(s, dir),
        TextOps.qualityScore(Tables.documents(s, dir)),
        "doc_id", "quality_score")
      .orderBy(col("cluster_id"))


  // ---- x38: winnowing fingerprints + passage-level near-dup pairs ---------

  /** Winnowing geometry: 4-token grams, window of 4 hashes — any shared
    * run of ≥ 7 tokens guarantees a shared fingerprint. [[WinnowMinShared]]
    * keeps pairs sharing at least that many DISTINCT fingerprints (an
    * integer gate — no float similarity anywhere in the pipeline). */
  val WinnowK = 4

  val WinnowWin = 4

  val WinnowMinShared = 2L


  /** Per-document winnowing fingerprint sets, exploded to (doc, fp) rows
    * — the passage-level dedup index a plagiarism/boilerplate detector
    * stores (see TextOps.winnowFingerprints for the selection scheme and
    * the per-row scale story). */
  def x38_winnow_fingerprints(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
        WinnowK, WinnowWin)
      .select(col("doc_id"), explode(col("fps")).as("fingerprint"))
      .orderBy(col("doc_id"), col("fingerprint"))


  /** Passage-overlap candidate pairs over the winnowing index — the
    * detector whole-document MinHash (x03) cannot express: docs sharing
    * a ≥ 7-token run collide here even at low whole-doc similarity. */
  def x38_winnow_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
        WinnowK, WinnowWin, WinnowMinShared)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x68: dup-cluster size histogram (the dup-mass profile) -------------

  /** The curator's first question about a corpus's duplication: how big
    * are the clusters? One histogram row per cluster SIZE (n_clusters of
    * that size, n_docs they hold), plus the size-1 row for documents
    * outside the pair graph — together a partition of the corpus, so the
    * histogram doubles as a mass audit (Σ n_docs = |corpus|). Reuses the
    * SHARED x20 component fixpoint (minhashDupLabels — the same labels
    * x20/x23/x26/x36/x53 consume; bench family 4); the two aggregates
    * after it are |clusters|- then |distinct sizes|-row, and the
    * singleton row is a 1-row×1-row anchor join. Output bounded by
    * |distinct cluster sizes| — broadcast-sized at any corpus scale. */
  def x68_cluster_size_hist(s: SparkSession, dir: String): DataFrame = {
    val labels = minhashDupLabels(s, dir)
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("total_docs"))
    val labeled = labels.agg(count(lit(1)).as("labeled_docs"))
    val hist = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
    val singletons = total.crossJoin(labeled) // 1-row × 1-row anchors
      .select(lit(1L).as("cluster_size"),
        (col("total_docs") - col("labeled_docs")).as("n_clusters"),
        (col("total_docs") - col("labeled_docs")).as("n_docs"))
    hist.unionAll(singletons)
      .filter(col("n_clusters") > 0)
      .orderBy(col("cluster_size"))
  }


  // ---- x62: edit-distance near-dup pairs (Ed-Join prefix filter) ----------

  /** Char-granularity near-dup join: all pairs at Levenshtein ≤ k — the
    * typo/OCR/template-variable duplication that shingle scores dilute
    * (a one-char flip per line destroys every containing shingle but
    * costs one edit; EditDistSpec pins exactly that counter-case, found
    * here, invisible to x02 at its threshold). Candidates come from the
    * Ed-Join q-gram prefix filter (Xiao et al. VLDB'08 — the same
    * df→rarity-rank→prefix ladder as x51, one column swapped: char
    * q-grams for token shingles), verification is banded `levenshtein`
    * with early exit. The ORACLE is the brute-force length-filtered
    * self-join — it never models the prefix, so the hash match proves
    * the filter recall-exact, the x51/x20 "two algorithms, one answer"
    * discipline. */
  def x62_editdist_pairs(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id", "text",
        k = EditDistK, q = EditDistQ)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x49: cross-source duplication flow matrix --------------------------

  /** WHERE the duplication comes from: the x02 exact near-dup pair graph
    * aggregated to an undirected source×source flow matrix — per source
    * pair, how many near-dup pairs cross it, their total shingle overlap,
    * and the worst (max) Jaccard. The curation question this answers is
    * the one x01–x05 don't: a corpus mixer needs to know WHICH feeds
    * duplicate each other (a crawl that mirrors a curated dump, two
    * crawls overlapping) before deciding which source's copies survive —
    * the diagonal (source_a = source_b) is within-feed redundancy, the
    * off-diagonal is cross-feed contamination.
    *
    * Exactness: counts and shingle-overlap sums are integers; the only
    * double is `max_jaccard`, and max over per-pair values both engines
    * compute identically from integers is order-insensitive and exact.
    * Scale shape: the pair relation is SPARSE (near-dups, not all pairs),
    * so the two source-attachment joins are equi-joins of a small
    * relation against a 2-column pruned corpus scan, and the final
    * aggregate is bounded by |sources|² — a broadcast-sized result no
    * matter the corpus. */
  def x49_source_dup_flow(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      w = 3, threshold = JaccardThreshold)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
        Seq("id_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_common")).as("overlap_shingles"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }


  // ---- x50: sketch recall audit (LSH vs exact pair set) -------------------

  /** "Measure, don't guess" applied to the sketches themselves: the
    * MinHash-LSH pair set (x03) audited against the exact inverted-index
    * pair set (x02) it approximates. Both pipelines verify candidates
    * with the same exact-Jaccard ≥ threshold test, so the LSH output is
    * provably ⊆ the exact output (any pair with J ≥ 0.5 shares ≥ 1
    * shingle and therefore appears in the index join); what this audit
    * measures is BANDING recall — how many true near-dup pairs never
    * collided in any of the 4 bands. At 100 TB the exact index join is
    * run on a SAMPLE to estimate the same recall number; here the corpus
    * is small enough to compute it exactly, and the all-integer one-row
    * result (n_missed = n_exact − n_sketch by the subset property) is
    * the regression gate a production pipeline pins its band geometry
    * with. Shape: one shuffle on the canonical pair key over the union
    * of two sparse pair relations, then a single-row total aggregate. */
  def x50_sketch_recall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        w = 3, threshold = JaccardThreshold)
      .select(col("id_a"), col("id_b"),
        lit(1L).as("f_exact"), lit(0L).as("f_sketch"))
    val sketch = Dedup.minhashLshPairs(docs, "doc_id", "text",
        w = 3, perms = 16, bands = 4, threshold = JaccardThreshold)
      .select(col("id_a"), col("id_b"),
        lit(0L).as("f_exact"), lit(1L).as("f_sketch"))
    exact.unionByName(sketch)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("f_exact")).as("in_exact"),
        max(col("f_sketch")).as("in_sketch"))
      .agg(sum(col("in_exact")).as("n_exact_pairs"),
        sum(col("in_sketch")).as("n_sketch_pairs"),
        sum(when(col("in_exact") === 1L && col("in_sketch") === 0L, 1L)
          .otherwise(0L)).as("n_missed"))
  }


  // ---- x51: prefix-filtered exact Jaccard (AllPairs/PPJoin) ---------------

  /** The published candidate-pruning upgrade for the flagship exact
    * near-dup pass: identical output to x02 (the prefix filter is
    * recall-exact — see Dedup.prefixJaccardPairs for the lemma), proven
    * here against the SAME oracle SQL, the x20/x20_star precedent for
    * "two algorithms, one fixpoint". The soak (SCALING.md) measures what
    * the filter buys: only each document's rarest shingles enter the
    * self-join, so the high-df boilerplate tail that turns Σ df² quadratic
    * on real corpora never reaches the join at all. */
  def x51_jaccard_prefix(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 3, threshold = JaccardThreshold)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x52: containment pairs (sub-document duplication) ------------------

  def x52_containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 3, threshold = ContainmentThreshold, minSmall = ContainmentMinSmall)
      .orderBy(col("id_a"), col("id_b"))


  // ---- x54: block-level exact span dedup (C4/Lee et al. granularity) ------

  /** Aligned block width for x54 — 10 tokens keeps block counts honest on
    * the synthetic ~30–60-token documents while still firing corpus-wide
    * (sf0.01: 151 duplicate blocks across 57 documents). */
  val BlockW = 10


  def x54_block_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.blockDedup(Tables.documents(s, dir), "doc_id", "text", BlockW)
      .orderBy(col("doc_id"))


  // ---- x57: unaligned repeated-substring dedup (ExactSubstr granularity) --

  /** Sliding-window width for x57 — 8 tokens, deliberately ≠ [[BlockW]]:
    * the two operators are independent granularities (x54 = aligned
    * blocks, x57 = every offset), and differing widths keep their oracle
    * CTEs from sharing intermediate shapes by accident. */
  val SubstrW = 8


  def x57_substr_dedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substrDedup(Tables.documents(s, dir), "doc_id", "text", SubstrW)
      .orderBy(col("doc_id"))


  // ---- x55: incremental near-dup vs ingested base (LSH batch gate) --------

  /** Near-dup complement of x33: the incoming batch (the [[BaseFrac]]
    * hash-split's complement, same split as x33 so the two gates see the
    * same nightly batch) is checked against the base corpus through the
    * x03 MinHash-LSH geometry — base ships only its stored band index and
    * shingle sets, candidates are band collisions, and each is verified
    * with exact Jaccard before the batch row is dropped. */
  def x55_incremental_lsh(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    Dedup.incrementalLshPairs(
        docs.filter(inBase), docs.filter(!inBase), "doc_id", "text",
        w = 3, perms = 16, bands = 4, threshold = JaccardThreshold)
      .orderBy(col("doc_id"), col("base_id"))
  }


  def x55_incremental_lsh_stream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docsSchema = Tables.schema(s, dir, "documents")
      val tmp = streamTmpDir("graft_x55_stream_")
      val out = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val landing = tmp.resolve("landing")
      stageTableLanding(dir, "documents", landing, "docs")
      val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
      val base = Tables.documents(s, dir).filter(inBase)
      val incoming = s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", StreamMaxFiles)
        .parquet(landing.toString)
        .filter(!inBase)
      // Multi-band dedup happens PER BATCH in the sink, not as a second
      // stateful operator: all of an incoming doc's band rows ride in its
      // own micro-batch, so a pair's duplicate emissions (identical
      // values, one per colliding band) can never span batches —
      // batch-local dropDuplicates is exact and keeps the query
      // single-stateful-operator.
      val q = graft.streaming.DedupStreams.lshDedupStream(
          incoming, base, "doc_id", "text",
          w = 3, perms = 16, bands = 4, threshold = JaccardThreshold,
          hotBucketCap = Some(LshStreamBucketCap))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[graft.streaming.DedupStreams.LshMatch],
           id: Long) =>
            batch.dropDuplicates("doc_id", "base_id")
              .write.mode("overwrite").parquet(s"$out/batch_id=$id")
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.option("basePath", out).parquet(out)
        .select(col("doc_id"), col("base_id"), col("jaccard"))
        .orderBy(col("doc_id"), col("base_id"))
    } finally prevProv match {
      case Some(v) => s.conf.set(provKey, v)
      case None => s.conf.unset(provKey)
    }
  }


  // ---- x59: SemDeDup within-cluster embedding prune ------------------------

  /** Cosine floor for the within-cluster prune — same value as the banded
    * x05 threshold so the two operators' answer sets are directly
    * comparable: x59 ⊇ (x05 pairs whose members share a cluster), plus
    * every within-cluster pair the banding missed. */
  val SemDedupThreshold = CosineDupThreshold


  /** x59 cluster-size guard (round-8 verdict #3): clusters past this fall
    * back to within-cluster banded LSH instead of the exhaustive
    * self-join. The benchmarked corpora sit far under it (sf0.1: ~200
    * vectors/cluster), so the oracle's exhaustive semantics hold exactly
    * while the quadratic failure mode is fenced — the degenerate
    * one-giant-cluster case is spec-pinned (SemDedupGuardSpec) and soak-
    * measured rather than left to production discovery. */
  val SemDedupClusterCap = 1000


  def x59_semdedup_prune(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // Loud-failure guard (round-9 advice): the x59 ORACLE is
    // unconditionally exhaustive, so the gate's validity rests on every
    // cluster sitting at or under the cap — past it the engine switches
    // to banded within-cluster semantics and the compare would fail as
    // an opaque hash mismatch. Assert the precondition HERE so a future
    // scale bump fails with this message instead. Cost: one assignment
    // scan reduced to a 1-row max — the documented stats-scan exception
    // (Sources z-order grid precedent); the assignment relation itself
    // is the same one semDedupPairs persists.
    val maxCluster = Similarity
      .nearestCentroidAssign(e, "vec_id", "label", "embedding")
      .groupBy(col("assigned_label")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    require(maxCluster <= SemDedupClusterCap,
      s"x59 oracle precondition violated: largest embedding cluster has " +
        s"$maxCluster members > cap $SemDedupClusterCap — the engine " +
        "would fall back to banded semantics while the oracle stays " +
        "exhaustive. Raise SemDedupClusterCap (and re-gate) or mirror " +
        "the banded branch in the oracle SQL before scaling this gate.")
    Similarity.semDedupPairs(e, "vec_id",
        "label", "embedding", SemDedupThreshold,
        maxClusterSize = Some(SemDedupClusterCap))
      .orderBy(col("cluster"), col("id_a"), col("id_b"))
  }

  protected def queriesDedup: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_dedup_exact" -> (x01_dedup_exact _),
    "x02_dedup_ngram_jaccard" -> (x02_dedup_ngram_jaccard _),
    "x03_dedup_minhash_lsh" -> (x03_dedup_minhash_lsh _),
    "x04_dedup_simhash" -> (x04_dedup_simhash _),
    "x04_dedup_simhash_pairs" -> (x04_dedup_simhash_pairs _),
    "x05_dedup_embedding" -> (x05_dedup_embedding _),
    "x05_dedup_embedding_sampled" -> (x05_dedup_embedding_sampled _),
    "x20_dup_clusters" -> (x20_dup_clusters _),
    "x20_dup_clusters_star" -> (x20_dup_clusters_star _),
    "x23_dedup_survivors" -> (x23_dedup_survivors _),
    "x33_incremental_dedup" -> (x33_incremental_dedup _),
    "x36_cluster_reps" -> (x36_cluster_reps _),
    "x38_winnow_fingerprints" -> (x38_winnow_fingerprints _),
    "x38_winnow_pairs" -> (x38_winnow_pairs _),
    "x49_source_dup_flow" -> (x49_source_dup_flow _),
    "x50_sketch_recall" -> (x50_sketch_recall _),
    "x51_jaccard_prefix" -> (x51_jaccard_prefix _),
    "x52_containment" -> (x52_containment _),
    "x54_block_dedup" -> (x54_block_dedup _),
    "x55_incremental_lsh" -> (x55_incremental_lsh _),
    "x55_incremental_lsh_stream" -> (x55_incremental_lsh_stream _),
    "x57_substr_dedup" -> (x57_substr_dedup _),
    "x59_semdedup_prune" -> (x59_semdedup_prune _),
    "x62_editdist_pairs" -> (x62_editdist_pairs _),
    "x68_cluster_size_hist" -> (x68_cluster_size_hist _))

  protected def oracleSqlDedup: Map[String, String] = Map(
    "x01_dedup_exact" ->
      """SELECT count(*) AS total_docs,
        |       count(DISTINCT sha256(text)) AS distinct_docs,
        |       count(*) - count(DISTINCT sha256(text)) AS duplicate_docs
        |FROM documents""".stripMargin,


    "x02_dedup_ngram_jaccard" -> ngramJaccardSql,


    "x03_dedup_minhash_lsh" ->
      s"""WITH $minhashVerifiedCte
         |SELECT id_a, id_b, jaccard FROM verified
         |WHERE jaccard >= $JaccardThreshold
         |ORDER BY id_a, id_b""".stripMargin,


    // Duplicate-cluster resolution over the x03 pair graph: DuckDB's
    // recursive CTE computes the transitive closure (reach = every label
    // reachable from v), min per vertex = the component's smallest member
    // — the same fixpoint Dedup.connectedComponents converges to by
    // min-label propagation.
    "x20_dup_clusters" -> dupClustersSql,


    // Same oracle, different Spark algorithm: x20_star runs the
    // large-star/small-star O(log n) component form against the identical
    // recursive-CTE closure, proving the scale path bit-equal end-to-end.
    "x20_dup_clusters_star" -> dupClustersSql,


    "x04_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |d AS (SELECT doc_id, t AS dt FROM toks)
         |SELECT doc_id, $simhashSql AS simhash
         |FROM d ORDER BY doc_id""".stripMargin,


    "x04_dedup_simhash_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |d AS (SELECT doc_id, t AS dt FROM toks),
         |h AS (SELECT doc_id, $simhashSql AS simhash FROM d)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY id_a, id_b""".stripMargin,


    "x05_dedup_embedding" ->
      s"""WITH qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |e AS (
         |${bandRowsSql(CosineBands, CosineBandBits)}),
         |c AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM e a JOIN e b ON a.bk = b.bk AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT id_a, id_b,
         |         CAST(${dotSql("na.v", "nb.v")} AS DOUBLE)
         |           / (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE))) AS cosine
         |  FROM c JOIN n na ON na.vec_id = c.id_a JOIN n nb ON nb.vec_id = c.id_b)
         |SELECT id_a, id_b, cosine FROM pairs
         |WHERE cosine >= $CosineDupThreshold
         |ORDER BY id_a, id_b""".stripMargin,


    "x05_dedup_embedding_sampled" ->
      s"""WITH qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |e AS (
         |${sampledBandRowsSql(SampledBands, SampledBandBits, EmbeddingDims, SampledSeed)}),
         |c AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM e a JOIN e b ON a.bk = b.bk AND a.vec_id < b.vec_id),
         |pairs AS (
         |  SELECT id_a, id_b,
         |         CAST(${dotSql("na.v", "nb.v")} AS DOUBLE)
         |           / (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE))) AS cosine
         |  FROM c JOIN n na ON na.vec_id = c.id_a JOIN n nb ON nb.vec_id = c.id_b)
         |SELECT id_a, id_b, cosine FROM pairs
         |WHERE cosine >= $CosineDupThreshold
         |ORDER BY id_a, id_b""".stripMargin,


    // Incremental dedup: x11's fingerprint carried through the x28-style
    // hash split; first-wins per digest, NOT-IN against the base index,
    // null-fingerprint rows passed through.
    "x33_incremental_dedup" ->
      s"""WITH $shinglesCte,
         |fp AS (
         |  SELECT doc_id, list_min(list_transform(sh, s -> md5(s))) AS digest,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}' AS in_base
         |  FROM sh),
         |k AS (
         |  SELECT digest, CAST(min(doc_id) AS BIGINT) AS doc_id
         |  FROM fp WHERE NOT in_base AND digest IS NOT NULL
         |  GROUP BY digest),
         |surv AS (
         |  SELECT doc_id, digest FROM k
         |  WHERE digest NOT IN (SELECT digest FROM fp WHERE in_base AND digest IS NOT NULL)
         |  UNION ALL
         |  SELECT doc_id, CAST(NULL AS VARCHAR) AS digest
         |  FROM fp WHERE NOT in_base AND digest IS NULL)
         |SELECT doc_id, digest FROM surv ORDER BY doc_id""".stripMargin,


    // End-to-end dedup survivors: the x20 component fixpoint, then an
    // anti-join keeping canonical members and untouched docs.
    "x23_dedup_survivors" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |prs AS (
         |  SELECT id_a, id_b FROM verified WHERE jaccard >= $JaccardThreshold),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach(v, l) AS (
         |  SELECT DISTINCT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON r.v = e.src),
         |lab AS (SELECT v, min(l) AS label FROM reach GROUP BY v)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT v FROM lab WHERE label <> v)
         |ORDER BY d.doc_id""".stripMargin,


    // Quality-policy cluster representatives: the x20 recursive component
    // fixpoint joined to the x09 quality chain (qtoks naming per x26),
    // argmax per label via row_number over (score DESC, id) — the total
    // order Dedup.clusterRepresentatives' max_by struct encodes.
    "x36_cluster_reps" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |prs AS (
         |  SELECT id_a, id_b FROM verified WHERE jaccard >= $JaccardThreshold),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM prs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM prs),
         |reach(v, l) AS (
         |  SELECT DISTINCT src AS v, src AS l FROM edges
         |  UNION
         |  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON r.v = e.src),
         |lab AS (SELECT v, min(l) AS label FROM reach GROUP BY v),
         |qtoks AS (
         |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |qm AS (
         |  SELECT doc_id,
         |         CAST(len(text) AS BIGINT) AS n_chars,
         |         CAST(len(t) AS BIGINT) AS n_tokens,
         |         CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
         |         CAST(len(list_filter(t, x -> x IN ('the','a','an','and','of','to','in','is','it','for'))) AS BIGINT) AS stopword_count
         |  FROM qtoks),
         |qr AS (
         |  SELECT doc_id,
         |         CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_tokens > 0 THEN CAST(stopword_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
         |         n_tokens
         |  FROM qm),
         |qq AS (
         |  SELECT doc_id,
         |         ROUND(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
         |               * (1.0 - punct_ratio)
         |               * least(stopword_ratio * 5.0 + 0.5, 1.0), 6) AS quality_score
         |  FROM qr),
         |mem AS (
         |  SELECT lab.label, lab.v, qq.quality_score
         |  FROM lab JOIN qq ON lab.v = qq.doc_id),
         |rk AS (
         |  SELECT label, v, quality_score,
         |         CAST(row_number() OVER (PARTITION BY label
         |                ORDER BY quality_score DESC, v) AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS n
         |  FROM mem)
         |SELECT label AS cluster_id, n AS n_members, v AS rep_doc_id,
         |       quality_score AS rep_score
         |FROM rk WHERE rn = 1 AND n > 1
         |ORDER BY cluster_id""".stripMargin,


    // x68: histogram over the SAME recursive-CTE component labels as
    // x20/x23/x26, plus the singleton row — a partition of the corpus.
    "x68_cluster_size_hist" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |$ccLabelsCte,
         |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
         |          FROM lab GROUP BY label),
         |hist AS (
         |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |         CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |  FROM sizes GROUP BY cluster_size),
         |singles AS (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size,
         |         CAST((SELECT count(*) FROM documents)
         |              - (SELECT count(*) FROM lab) AS BIGINT) AS n_clusters,
         |         CAST((SELECT count(*) FROM documents)
         |              - (SELECT count(*) FROM lab) AS BIGINT) AS n_docs)
         |SELECT cluster_size, n_clusters, n_docs
         |FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
         |WHERE n_clusters > 0
         |ORDER BY cluster_size""".stripMargin,


    // x62: the oracle is the BRUTE-FORCE length-filtered self-join — it
    // never models the q-gram prefix, so the hash match proves the
    // Ed-Join candidate filter recall-exact (the x51 oracle discipline).
    // levenshtein() agrees between engines on ascii text; the length
    // filter ED ≥ abs(|a|−|b|) is part of the operator's contract.
    "x62_editdist_pairs" ->
      s"""WITH d AS (SELECT doc_id, text, length(text) AS l FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS ed
         |FROM d a
         |JOIN d b ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= $EditDistK
         |WHERE levenshtein(a.text, b.text) <= $EditDistK
         |ORDER BY id_a, id_b""".stripMargin,


    // x49: the x02 pair CTE re-aggregated to a source×source flow matrix;
    // integer counts/sums, max over identically-computed doubles — exact.
    "x49_source_dup_flow" ->
      s"""WITH $shinglesCte,
         |idx AS (SELECT doc_id AS id, unnest(sh) AS shingle FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM idx GROUP BY 1),
         |common AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b, n_common,
         |         CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
         |  FROM common
         |  JOIN sizes sa ON id_a = sa.id
         |  JOIN sizes sb ON id_b = sb.id
         |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $JaccardThreshold)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs,
         |       CAST(SUM(n_common) AS BIGINT) AS overlap_shingles,
         |       MAX(jaccard) AS max_jaccard
         |FROM pairs
         |JOIN documents da ON id_a = da.doc_id
         |JOIN documents db ON id_b = db.doc_id
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin,


    // x50: LSH (verified) vs exact pair sets merged on the canonical pair
    // key; one all-integer summary row (LSH ⊆ exact by the shared verify
    // filter, so n_missed = n_exact − n_sketch).
    "x50_sketch_recall" ->
      s"""WITH $minhashVerifiedCte,
         |idx AS (SELECT doc_id AS id, unnest(sh) AS shingle FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM idx GROUP BY 1),
         |common AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2),
         |exact_pairs AS (
         |  SELECT id_a, id_b
         |  FROM common
         |  JOIN sizes sa ON id_a = sa.id
         |  JOIN sizes sb ON id_b = sb.id
         |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $JaccardThreshold),
         |sketch_pairs AS (
         |  SELECT id_a, id_b FROM verified WHERE jaccard >= $JaccardThreshold),
         |merged AS (
         |  SELECT id_a, id_b, MAX(f_exact) AS in_exact, MAX(f_sketch) AS in_sketch
         |  FROM (SELECT id_a, id_b, 1 AS f_exact, 0 AS f_sketch FROM exact_pairs
         |        UNION ALL
         |        SELECT id_a, id_b, 0 AS f_exact, 1 AS f_sketch FROM sketch_pairs) u
         |  GROUP BY 1, 2)
         |SELECT CAST(SUM(in_exact) AS BIGINT) AS n_exact_pairs,
         |       CAST(SUM(in_sketch) AS BIGINT) AS n_sketch_pairs,
         |       CAST(SUM(CASE WHEN in_exact = 1 AND in_sketch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
         |FROM merged""".stripMargin,


    // x51: the prefix filter is recall-exact, so the oracle is x02's SQL
    // verbatim — the x20/x20_star "two algorithms, one answer" precedent.
    // The oracle does NOT model the prefix selection; it computes the
    // ground-truth pair set the filter must reproduce exactly.
    "x51_jaccard_prefix" -> ngramJaccardSql,


    // x52: same inverted-index CTE as x02, containment score — the
    // smaller set's coverage — instead of Jaccard, with the minSmall
    // floor on the smaller set.
    "x52_containment" ->
      s"""WITH $shinglesCte,
         |idx AS (SELECT doc_id AS id, unnest(sh) AS shingle FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM idx GROUP BY 1),
         |common AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_common,
         |       CAST(n_common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
         |FROM common
         |JOIN sizes sa ON id_a = sa.id
         |JOIN sizes sb ON id_b = sb.id
         |WHERE least(sa.n, sb.n) >= $ContainmentMinSmall
         |  AND CAST(n_common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= $ContainmentThreshold
         |ORDER BY id_a, id_b""".stripMargin,


    // x54: same canonical-first-occurrence rule, window-rank formulation
    // (the oracle needn't be scale-shaped): rn = 1 under
    // (PARTITION BY block hash ORDER BY doc_id, idx) IS min(struct(id,idx)).
    "x54_block_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |b0 AS (
         |  SELECT doc_id, len(t) AS n,
         |         list_transform(range(0, CAST(ceil(len(t) / ${BlockW}.0) AS BIGINT)),
         |           j -> array_to_string(list_slice(t, j*$BlockW+1, j*$BlockW+$BlockW), ' ')) AS bl
         |  FROM toks WHERE len(t) > 0),
         |blocks AS (
         |  SELECT doc_id, n, unnest(range(0, len(bl))) AS idx, unnest(bl) AS blk
         |  FROM b0),
         |ranked AS (
         |  SELECT doc_id, n, idx, blk,
         |         row_number() OVER (PARTITION BY md5(blk) ORDER BY doc_id, idx) AS rn
         |  FROM blocks)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_blocks,
         |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |       CAST(SUM(CASE WHEN rn = 1 THEN least($BlockW, n - idx*$BlockW) ELSE 0 END) AS BIGINT) AS n_tokens_kept,
         |       sha256(coalesce(string_agg(blk, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')) AS clean_sha
         |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // x57: the x54 keep-first rule at EVERY offset (ExactSubstr
    // granularity). rn = 1 under (PARTITION BY window hash ORDER BY
    // doc_id, o) is the canonical occurrence; a position is duplicated iff
    // some rn > 1 window covers it; spans = maximal covered runs (lag
    // gap test ≡ the Spark side's interval fold).
    "x57_substr_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         |w0 AS (
         |  SELECT doc_id,
         |         list_transform(range(0, n - $SubstrW + 1), j ->
         |           md5(array_to_string(list_slice(t, j+1, j+$SubstrW), ' '))) AS hs
         |  FROM d WHERE n >= $SubstrW),
         |wins AS (
         |  SELECT doc_id, unnest(range(0, len(hs))) AS o, unnest(hs) AS h
         |  FROM w0),
         |ranked AS (
         |  SELECT doc_id, o,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, o) AS rn
         |  FROM wins),
         |dropped AS (SELECT doc_id, o FROM ranked WHERE rn > 1),
         |pos AS (
         |  SELECT doc_id, unnest(range(0, n)) AS p, unnest(t) AS tok FROM d),
         |cov AS (
         |  SELECT DISTINCT ps.doc_id, ps.p
         |  FROM pos ps JOIN dropped dr
         |    ON ps.doc_id = dr.doc_id
         |   AND dr.o <= ps.p AND ps.p < dr.o + $SubstrW),
         |spans AS (
         |  SELECT doc_id,
         |         CAST(count(*) AS BIGINT) AS n_cov,
         |         CAST(count(*) FILTER (WHERE prev IS NULL OR p - prev > 1)
         |           AS BIGINT) AS n_spans
         |  FROM (SELECT doc_id, p,
         |               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
         |        FROM cov)
         |  GROUP BY doc_id),
         |kept AS (
         |  SELECT ps.doc_id,
         |         sha256(coalesce(string_agg(ps.tok, ' ' ORDER BY ps.p)
         |           FILTER (WHERE c.p IS NULL), '')) AS clean_sha
         |  FROM pos ps LEFT JOIN cov c
         |    ON ps.doc_id = c.doc_id AND ps.p = c.p
         |  GROUP BY ps.doc_id)
         |SELECT d.doc_id,
         |       CAST(d.n AS BIGINT) AS n_tokens,
         |       CAST(coalesce(s.n_cov, 0) AS BIGINT) AS n_dup_tokens,
         |       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_dup_spans,
         |       k.clean_sha
         |FROM d
         |LEFT JOIN spans s ON d.doc_id = s.doc_id
         |JOIN kept k ON d.doc_id = k.doc_id
         |ORDER BY d.doc_id""".stripMargin,


    // x55: the x03 MinHash→LSH→verify chain with the x33 base/batch
    // hash-split — candidates are batch×base band collisions only. The
    // streaming twin registers the SAME oracle text below: the streamed
    // state-index answer must equal the batch answer exactly — that
    // identity IS the gated claim.
    "x55_incremental_lsh" -> x55OracleSql,

    "x55_incremental_lsh_stream" -> x55OracleSql,


    // x59: the x56 assignment chain verbatim down to `assigned rn = 1`,
    // then an exhaustive exact-cosine self-join keyed on the assigned
    // cluster — the oracle computes the identical within-cluster
    // semantics (never corpus-wide).
    "x59_semdedup_prune" ->
      s"""WITH $centroidScoreCtes,
         |assigned AS (
         |  SELECT vec_id, c_label,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
         |  FROM scored),
         |a AS (SELECT vec_id, c_label FROM assigned WHERE rn = 1),
         |n AS (SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |pairs AS (
         |  SELECT x.c_label AS cluster, x.vec_id AS id_a, y.vec_id AS id_b,
         |         CAST(${dotSql("na.v", "nb.v")} AS DOUBLE)
         |           / (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE))) AS cosine
         |  FROM a x JOIN a y ON x.c_label = y.c_label AND x.vec_id < y.vec_id
         |  JOIN n na ON na.vec_id = x.vec_id
         |  JOIN n nb ON nb.vec_id = y.vec_id)
         |SELECT cluster, id_a, id_b, cosine FROM pairs
         |WHERE cosine >= $SemDedupThreshold
         |ORDER BY cluster, id_a, id_b""".stripMargin,


    "x38_winnow_fingerprints" ->
      s"""WITH $winnowCte
         |SELECT doc_id, unnest(fps) AS fingerprint
         |FROM wf ORDER BY doc_id, fingerprint""".stripMargin,


    // Passage-overlap pairs: per-doc fps are already distinct, so the
    // inverted-index join counts distinct shared fingerprints — exactly
    // Spark's post-explode count. All-integer, order-proof.
    "x38_winnow_pairs" ->
      s"""WITH $winnowCte,
         |widx AS (SELECT doc_id AS id, unnest(fps) AS fp FROM wf),
         |wc AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         |  FROM widx a JOIN widx b ON a.fp = b.fp AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared FROM wc
         |WHERE n_shared >= $WinnowMinShared
         |ORDER BY id_a, id_b""".stripMargin)
}
