package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for LLM-data pipelines (SURVEY.md §7.6):
  * exact (content hash), near-dup via n-gram Jaccard (inverted index),
  * MinHash+LSH (banded candidate generation), SimHash (bit fingerprints),
  * and embedding-cosine near-dup (see Similarity for the kernels).
  *
  * Scale design notes, per operator:
  *  - exact: one hash per row + one groupBy shuffle on the 32-byte digest;
  *    the canonical 100 TB dedup pass.
  *  - n-gram Jaccard: inverted-index equi-join on shingle (NOT an O(n²)
  *    cross join) — cost ∝ Σ df(shingle)². The df cap drops
  *    stop-shingles that would otherwise square into the join; at corpus
  *    scale that cap is what keeps the pass sub-quadratic.
  *  - MinHash+LSH: per-row signatures (no shuffle), then a join only on
  *    (band, bucket) — candidate count ∝ collisions, not n². This is THE
  *    sub-quadratic near-dup path at 100 TB; the Jaccard verify touches
  *    only candidates.
  *  - SimHash: per-row 32-bit fingerprint; pairing at scale goes through
  *    prefix bands (same LSH idea) — the all-pairs form here is for the
  *    bounded test corpus and documented as such.
  *
  * All hashing is md5-hex — identical lowercase-hex output in Spark and
  * DuckDB, so signatures/fingerprints are bit-portable to the oracle.
  */
object Dedup {
  /** Exact-duplicate groups by content digest. Returns one row per
    * duplicated digest with its cardinality and the member ids. */
  def exactDupGroups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol), sha2(col(contentCol), 256).as("digest"))
      .groupBy(col("digest"))
      .agg(count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("member_ids"))
      .filter(col("n_copies") > 1)

  /** Exact-dedup summary: total rows, distinct contents, removable rows. */
  def exactDupSummary(df: DataFrame, contentCol: String): DataFrame =
    df.select(sha2(col(contentCol), 256).as("digest"))
      .agg(count(lit(1)).as("total_docs"),
        countDistinct(col("digest")).as("distinct_docs"))
      .withColumn("duplicate_docs", col("total_docs") - col("distinct_docs"))

  /** (id, shingle) inverted-index relation: distinct w-token shingles per
    * document, exploded. `dfCap` drops shingles occurring in more than
    * that many documents (stop-shingles) — they contribute nothing to
    * near-dup detection but dominate the self-join cost. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                   w: Int = 3, dfCap: Option[Int] = None): DataFrame = {
    val base = df
      .select(col(idCol).as("id"),
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), w)).as("shingle"))
    dfCap match {
      case None => base
      case Some(cap) =>
        val keep = base.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df_count"))
          .filter(col("df_count") <= cap)
          .select(col("shingle"))
        base.join(keep, Seq("shingle"), "left_semi")
    }
  }

  /** Exact n-gram Jaccard near-dup pairs via the inverted index:
    * |A∩B| from the shingle equi-join, |A|,|B| from per-doc counts,
    * J = c / (|A|+|B|−c). Output: id_a < id_b, jaccard ≥ threshold.
    *
    * `dfCap` (the [[shingleIndex]] hook, now wired into the pair path):
    * drop shingles occurring in more than `cap` documents BEFORE the
    * self-join. The join's exact cost is Σ over shingles of C(df,2); on
    * an honestly-growing corpus per-shingle df is bounded and that sum
    * is linear in n (round-6 soak: max df 25 and join rows exactly ∝ n
    * from 15k to 150k docs, so every cap ≥ 50 returned the identical
    * 7,680 pairs — the knob is inert here). Its 100 TB role is the
    * boilerplate tail this corpus lacks: headers/footers with corpus-
    * wide df turn Σ C(df,2) quadratic, and the cap bounds them at a
    * measurable recall trade. The trade's exact shape: the NUMERATOR
    * counts only surviving shingles while the denominator keeps the
    * uncapped set sizes (see NOTE below), so the cap can only DEFLATE a
    * pair's J — capped output ⊆ uncapped, never a spurious pair — and
    * any pair whose overlap is partly boilerplate loses proportionally,
    * not just pairs whose overlap is boilerplate alone. Size the cap
    * against that conservative bias (sweep + recall measurement, the
    * SCALING.md x02 protocol), not against a lossless-below-threshold
    * assumption. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        w: Int = 3, threshold: Double = 0.5,
                        dfCap: Option[Int] = None): DataFrame = {
    val idx = sizedShingleIndex(df, idCol, textCol, w, dfCap)
    idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }

  /** The (id, |set|, shingle) inverted-index relation shared by
    * [[ngramJaccardPairs]], [[containmentPairs]] and (as the df source)
    * [[prefixJaccardPairs]]. Each index row carries its document's set
    * size, so |A| and |B| ride through the equi-join as grouping keys —
    * no post-hoc size joins. Materialized once (persist, tracked in
    * ExtCaches): it feeds both self-join sides; without a barrier
    * Catalyst inlines the shingle expression into each, re-tokenizing
    * every document twice.
    *
    * NOTE: the `n` column stays the UNCAPPED set size — a similarity
    * denominator must not shrink when stop-shingles are dropped, or the
    * score would be inflated for boilerplate-heavy docs. With `dfCap` the
    * staging follows the winnowPairs discipline: materialize the capped
    * index eagerly, then release the raw relation — holding both doubles
    * the cached footprint of the largest pipeline relation. */
  private def sizedShingleIndex(df: DataFrame, idCol: String, textCol: String,
                                w: Int, dfCap: Option[Int]): DataFrame = {
    val raw = df
      .select(col(idCol).as("id"),
        TextOps.shingles(TextOps.tokens(col(textCol)), w).as("sh"))
      .select(col("id"), size(col("sh")).cast(LongType).as("n"),
        explode(col("sh")).as("shingle"))
    dfCap match {
      case None =>
        // Eager, like the capped branch: the index feeds both self-join
        // sides, and a lazy fill races (ExtCaches.persistEager's
        // Scaladoc; round-7 soak measured the capped twin — whose only
        // structural difference at cap ≥ max df is its eager fill —
        // 1.4x faster than this path when it was lazy: 9.6 vs 13.6 s
        // at x30).
        ExtCaches.persistEager(raw)
      case Some(cap) =>
        val cached = ExtCaches.persistTracked(raw)
        val keep = cached.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df_count"))
          .filter(col("df_count") <= cap)
          .select(col("shingle"))
        val built = ExtCaches.persistTracked(
          cached.join(keep, Seq("shingle"), "left_semi"))
        built.count()
        ExtCaches.releaseTracked(cached)
        built
    }
  }

  /** Exact n-gram Jaccard pairs through the AllPairs/PPJoin PREFIX filter
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
    * Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08): identical OUTPUT to [[ngramJaccardPairs]] — the
    * filter is recall-exact, not approximate — at a fraction of the join
    * cost. Only each document's prefix enters the candidate self-join:
    * its (|d| − ⌈t·|d|⌉ + 1) rarest shingles under a global canonical
    * order (ascending document frequency, shingle text as tie-break).
    *
    * Why that is lossless: J(A,B) ≥ t ⇒ |A∩B| ≥ t·(|A|+|B|−|A∩B|) ≥
    * t·|A| (and symmetrically t·|B|, since the union is at least as
    * large as either set). Two sets sharing ⌈t·|A|⌉ elements cannot have
    * disjoint prefixes of length |A|−⌈t·|A|⌉+1 under ONE total order —
    * so every qualifying pair surfaces as a prefix collision, and the
    * exact-Jaccard verification on full shingle sets does the rest.
    *
    * Scale shape: the full inverted-index join costs Σ df(shingle)² over
    * ALL shingles; the prefix join only over prefix occurrences — and
    * because the canonical order is ascending df, prefixes concentrate in
    * the RAREST shingles, exactly the ones with small df. High-df
    * boilerplate shingles sit at the end of every document's ordering and
    * never enter the join (the df-cap's job in [[ngramJaccardPairs]],
    * obtained here for free and without the recall trade). The price is
    * one extra pass to compute global dfs and a per-document top-p
    * selection (a WindowGroupLimit shape — rank ≤ p under the per-doc
    * window, no full sort materialization). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Full sets persist once: they feed the df aggregate, the prefix
    // selection, and both sides of the verification join. LAZY on
    // purpose — the round-7 eager sweep (boiler b30; SCALING.md
    // "Findings (round 7)") measured every persistEager variant of this
    // operator at 69-138 s against 33-45 s fully lazy: the up-front
    // fills serialize the operator's two big cache materializations
    // ahead of the candidate join instead of overlapping them with it,
    // and the self-join fill race that persistEager exists for is
    // dwarfed here by the window+verify stages.
    val sets = ExtCaches.persistTracked(df.select(col(idCol).as("id"),
      TextOps.shingles(TextOps.tokens(col(textCol)), w).as("sh")))
    val idx = sets.select(col("id"), size(col("sh")).cast(LongType).as("n"),
      explode(col("sh")).as("shingle"))
    val dfTab = idx.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_count"))
    // Canonical order: (df ascending, shingle) is total — shingle is the
    // df table's key — so every document ranks its shingles identically.
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df_count"), col("shingle"))
    val prefix = ExtCaches.persistTracked(
      idx.join(dfTab, Seq("shingle"))
        .withColumn("rnk", row_number().over(byRarity))
        .filter(col("rnk") <= col("n") - ceil(lit(threshold) * col("n")) + lit(1))
        .select(col("id"), col("n"), col("shingle")))
    // PPJoin's LENGTH filter rides the prefix join: J(A,B) ≥ t forces
    // t·|A| ≤ |B| ≤ |A|/t (|A∩B| ≤ min, |A∪B| ≥ max), so size-mismatched
    // collisions are pruned before the distinct/verify tail ever sees
    // them — recall-exact like the prefix lemma itself. The 1e-9 slack
    // absorbs the double multiply's rounding for non-dyadic thresholds
    // (a borderline TRUE pair must never be rejected by an ulp; the
    // exact-Jaccard verify keeps false accepts harmless).
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id")
          && col("b.n").cast(DoubleType) >=
            col("a.n").cast(DoubleType) * threshold - lit(1e-9)
          && col("a.n").cast(DoubleType) >=
            col("b.n").cast(DoubleType) * threshold - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact verification on full sets — same tail as minhashLshPairs, but
    // here the candidate set provably contains every qualifying pair.
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (size(col("sh_a")).cast(LongType) + size(col("sh_b")).cast(LongType)
            - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold — the
    * SMALLER shingle set is mostly inside the larger. This is the
    * asymmetric complement of Jaccard: a short document pasted verbatim
    * into a long one scores containment ≈ 1 while its Jaccard collapses
    * toward |A|/|B| and slips under every symmetric threshold — exactly
    * the quote/boilerplate/subset duplication a pretraining corpus needs
    * flagged separately from whole-document near-dups. `minSmall` floors
    * the smaller set's size: sets of one or two shingles hit containment
    * 1.0 by accident, not by duplication.
    *
    * Same inverted-index shape (and df-cap hook, and Σ df² cost bound) as
    * [[ngramJaccardPairs]]; only the score and the filter differ. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       w: Int = 3, threshold: Double = 0.8,
                       minSmall: Long = 5L,
                       dfCap: Option[Int] = None): DataFrame = {
    val idx = sizedShingleIndex(df, idCol, textCol, w, dfCap)
    idx.as("a")
      .join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(least(col("n_a"), col("n_b")) >= minSmall)
      .withColumn("containment",
        col("n_common").cast(DoubleType) /
          least(col("n_a"), col("n_b")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("containment"))
  }

  /** MinHash signature column: for permutation i in [0, perms), the
    * minimum md5 of "i|shingle" — computed entirely per-row with nested
    * higher-order functions (no explode, no shuffle). Empty shingle set →
    * array of nulls. */
  def minhashSignature(shingles: Column, perms: Int = 16): Column =
    org.apache.spark.sql.graftfn.HashSketches.minhashSignature(shingles, perms)

  /** LSH banding: (id, band, bucket) rows where bucket is the md5 of the
    * band's r signature values. Docs sharing any (band, bucket) are
    * near-dup candidates. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rows: Int): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => md5(concat_ws(",", slice(col(sigCol), j * rows + 1, lit(rows)))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Full MinHash+LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verification of candidates only. Semantically the
    * verified output is ⊆ ngramJaccardPairs (LSH may miss pairs — that is
    * the recall/cost trade, tunable via bands × rows).
    *
    * Scale notes (round-6 soak diagnostics, SCALING.md): unlike the x05
    * sign-slice geometry, the band-key space here is NOT bounded — the
    * bucket is an md5 over r minhash values, so the key space grows with
    * the corpus's shingle diversity and buckets stay small on honestly
    * growing corpora (measured: max bucket 4 and candidates exactly ∝ n
    * from 5k to 150k docs). The quadratic risk is DEGENERATE content —
    * mass-identical boilerplate documents share all 16 minhashes and
    * collapse into one bucket per band. `hotBucketCap` is the guard: band
    * keys shared by more than `cap` docs are dropped before the candidate
    * self-join (the [[shingleIndex]] df-cap / Similarity.hotBucketCap
    * discipline), bounding worst-case Σ bucket² at the cost of missing
    * pairs inside super-hot buckets — which exact dedup ([[exactDupSummary]]
    * upstream) should have collapsed anyway. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 3, perms: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5,
                      hotBucketCap: Option[Int] = None): DataFrame = {
    val rows = perms / bands
    // Materialize shingle sets and signatures: this IS the production
    // shape at scale — a persisted signature table, small relative to the
    // corpus (16 hashes + the shingle set per doc). Without the barrier,
    // projection collapse would recompute the full 16-permutation minhash
    // inside every band row and on both sides of the candidate join.
    // Lazy (not persistEager): x03's candidate join is tiny relative to
    // the signature build, and the round-7 sweeps measured the eager
    // variant consistently slightly slower (2.9 -> 3.7 s at x30) — the
    // same serialize-the-fills effect the round-7 eager sweep isolated
    // on x51 (SCALING.md "Findings (round 7)"), in miniature. The flat
    // shingle/fingerprint indexes (x02/x52/x38), whose self-join
    // dominates their runtime, are where eager wins.
    val withSh = ExtCaches.persistTracked(df.select(col(idCol).as("id"),
      TextOps.shingles(TextOps.tokens(col(textCol)), w).as("sh")))
    val sigs = withSh.withColumn("sig", minhashSignature(col("sh"), perms))
    val bandRows0 = ExtCaches.persistTracked(lshBands(sigs, "id", "sig", bands, rows))
    val bandRows = hotBucketCap.fold(bandRows0) { cap =>
      val keep = bandRows0.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= cap)
        .select(col("band"), col("bucket"))
      // Same staging discipline as ngramJaccardPairs/winnowPairs: the
      // capped relation feeds BOTH candidate-join sides, so materialize
      // it eagerly and release the raw band table — otherwise the
      // keep-aggregate and semi-join recompute per side, and both
      // copies of the pipeline's largest relation stay cached.
      val built = ExtCaches.persistTracked(
        bandRows0.join(keep, Seq("band", "bucket"), "left_semi"))
      built.count()
      ExtCaches.releaseTracked(bandRows0)
      built
    }
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val sets = withSh.select(col("id"), col("sh"))
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 32-bit tf-weighted SimHash over the document's tokens. Bit j's
    * pseudo-random ±1 per token comes from the first hex char of
    * md5("j|token") (< '8' → −1, ≥ '8' → +1), summed over every token
    * OCCURRENCE (term-frequency weighting — on a shared-vocabulary corpus
    * an unweighted simhash collapses: most docs contain most words, so
    * distinct-token sums are nearly identical across docs). The bit is set
    * when the sum is positive. Per-row only — no shuffle, and bit-identical
    * in the DuckDB oracle. */
  def simhash(toks: Column, bits: Int = 32): Column =
    org.apache.spark.sql.graftfn.HashSketches.simhash(toks, bits)

  /** SimHash near-dups with Hamming distance ≤ maxDist — EXACT banded
    * algorithm, not all-pairs: partition the `bits` fingerprint bits into
    * maxDist+1 disjoint chunks; by pigeonhole, any pair within distance
    * maxDist agrees exactly on at least one chunk, so an equi-join on
    * (chunk index, chunk value) generates a candidate superset with 100%
    * recall, then the XOR popcount verifies. Turns the quadratic
    * nested-loop self-join into a hash join whose cost tracks collisions —
    * the standard sub-quadratic simhash-dedup shape at corpus scale. */
  def simhashPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int = 4, bits: Int = 32): DataFrame = {
    // Materialize the fingerprints (tracked in ExtCaches): the joins would
    // otherwise inline the full simhash expression (bits × tokens md5
    // evaluations) per pair.
    val h = ExtCaches.persistTracked(
      df.select(col(idCol).as("id"), col(hashCol).as("h")))
    val nBands = maxDist + 1
    val chunkBits = (bits + nBands - 1) / nBands
    val bandCols = (0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("h"), j * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("chunk"))
    }
    val bandRows = h.select(col("id"), col("h"),
        explode(array(bandCols: _*)).as("bc"))
      .select(col("id"), col("h"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.h").as("ha"), col("y.h").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation: every vertex starts labeled with itself; each round
    * lowers a vertex's label to the minimum among itself and its
    * neighbors (one equi-join + one min-aggregate per round — all
    * hash-shuffle shapes); the unique fixpoint labels every component by
    * its smallest member id. Rounds needed = graph diameter, which for
    * near-dup clusters (dense, clique-like — every member collided with
    * most others) is 1–2; `maxIters` bounds pathological chains, and
    * each round ends in an eager localCheckpoint with the superseded
    * round's checkpoint blocks released explicitly, so lineage AND
    * storage stay O(1) per round (the final round's blocks are handed to
    * ExtCaches for release at clearCaches). At extreme scale the same
    * contract is served in O(log n) rounds by the alternating
    * large-star/small-star algorithm ([[connectedComponentsStar]]) —
    * equivalence-property-tested, and the swap changes this function
    * only, not its callers.
    *
    * NOTE — unlike every other operator here, this one executes EAGERLY
    * at DataFrame-construction time (the fixpoint loop must run to know
    * the result): merely *building* a plan on top of it (x20 in the
    * query registry) runs the iterative job. Callers that only want the
    * plan shape should not construct it.
    *
    * This is the operator a dedup pipeline runs AFTER pair generation:
    * pairs say "these two are duplicates", components say "keep one
    * canonical document per duplicate group". */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 25): DataFrame = {
    val edges = ExtCaches.persistTracked(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    // Each round references the previous labels relation twice (the
    // neighbor-min join and the update join), so raw lineage doubles per
    // round — harmless for clique-like dedup clusters (2–3 rounds) but a
    // 2^k logical plan on chain-shaped graphs, where the plan-description
    // capture at action time OOMs long before the data does. Every round
    // therefore ends in an EAGER localCheckpoint: the round materializes
    // (what the persist+count pair did before) AND the lineage truncates
    // to the stored RDD, keeping the plan O(1) per round. A local
    // checkpoint's blocks ARE the data, so the superseded round is
    // released explicitly only AFTER the new round is materialized, and
    // the final round is handed to ExtCaches for a deterministic release
    // at clearCaches (the bench's "storage is free between families"
    // contract).
    import org.apache.spark.sql.graftfn.Lineage
    var step = edges.select(col("src").as("v"))
      .distinct()
      .select(col("v"), col("v").as("label"))
      .localCheckpoint(true)
    var labels = step.select(col("v"), col("label"))
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(labels, col("dst") === col("v"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_min"))
      // Convergence detection rides ON the label-update row (old label
      // kept alongside new): one pass both materializes the round and
      // tallies changed vertices — no second old-vs-new join job.
      val prev = step
      step = labels.join(nbrMin, col("v") === col("src"), "left")
        .select(col("v"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        .localCheckpoint(true)
      val changed = step.filter(col("label") =!= col("prev_label")).count()
      Lineage.release(prev)
      labels = step.select(col("v"), col("label"))
      converged = changed == 0L
      it += 1
    }
    if (!converged) {
      Lineage.release(step)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    }
    val last = step
    ExtCaches.trackReleasable(() => Lineage.release(last, blocking = true))
    labels
  }

  /** Connected components by alternating large-star / small-star edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round form [[connectedComponents]]'
    * scaladoc names as the extreme-scale swap-in, implemented here as a
    * drop-in alternative (same contract: (v, label) with label = the
    * component's smallest vertex). Label propagation needs
    * diameter-many rounds — fine for clique-like dedup clusters, ruinous
    * for chain-shaped graphs (a 10⁶-vertex path needs 10⁶ rounds); the
    * star operations square away long paths in O(log n) rounds:
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u}) — one groupBy(min) + one equi-join, emitted
    *    as (v, m);
    *  - small-star(u): every neighbor v ≤ u (plus u itself) re-attaches
    *    to the same m over the ≤-neighborhood.
    *
    * Both phases are hash-shuffle shapes (no sorts, no windows).
    * Each round's edge set references the previous one ~12× (unions +
    * joins on both star phases), so building rounds on raw lineage grows
    * the logical plan 12^k — plan canonicalization OOMs within a handful
    * of rounds. Every round therefore ends in an EAGER localCheckpoint:
    * lineage truncates to the materialized RDD and the plan stays O(1)
    * per round (same device GraphFrames uses for its iterative
    * algorithms; on a cluster a reliable checkpoint dir is the
    * fault-tolerant variant). Superseded rounds' checkpoint blocks are
    * released explicitly once the next round is materialized (same
    * storage discipline as [[connectedComponents]]), the final round via
    * ExtCaches. Both relations being distinct and materialized,
    * convergence is a count comparison plus ONE anti-join
    * (|ss| == |e| ∧ ss∖e = ∅ ⇒ set equality). The fixpoint is a forest
    * of stars: every non-minimum vertex points directly at its component
    * minimum; vertices appearing only in self-pairs keep their
    * self-label (same vertex universe as [[connectedComponents]]).
    * Eager like [[connectedComponents]], and equivalence to it is
    * property-tested on adversarial graphs (PropertySpec). */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIters: Int = 40): DataFrame = {
    import org.apache.spark.sql.graftfn.Lineage
    // The vertex universe comes from the RAW pair relation (both sides),
    // so self-pair-only vertices — excluded from the edge rewrites below,
    // which operate on proper edges — still receive their self-label.
    val verts = ExtCaches.persistTracked(
      pairs.select(col(aCol).as("v"))
        .union(pairs.select(col(bCol).as("v")))
        .distinct())
    var e = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var eCount = e.count()
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // ---- large-star: neighbors strictly above u hook onto the min ----
      val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = und.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // NO distinct on ls: small-star's min is duplicate-insensitive and
      // ss carries its own distinct, so deduping here buys nothing the
      // next stage doesn't already do — dropping it removes one full
      // exchange+aggregate of the round's largest relation (|ls| ≤
      // |und| = 2|e| with or without it). Perf-neutral at the x30 soak
      // (round-6 A/B: star CC ~1.9 s steady either way — per-round job
      // latency dominates at 150k docs), but at cluster scale an extra
      // all-to-all of 2|e| rows per round is the thing to not do.
      // ---- small-star: the ≤-neighborhood (plus u) hooks onto its min --
      // After large-star every edge (u, v) has v < u, so the directed
      // relation IS the ≤-neighborhood: group by u directly.
      val sMins = ls.groupBy(col("u"))
        .agg(min(col("v")).as("m"))
      val ss = ls.join(sMins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      val ssCount = ss.count()
      // Job accounting per round: the eager checkpoint materializes, the
      // count() reads already-materialized blocks (~free), and the
      // set-equality anti-join is GATED by the short-circuiting && — it
      // runs only on candidate-converged rounds (counts equal), i.e.
      // normally just the final round. Fusing count+anti-join into one
      // left-join aggregate would charge every non-converging round a
      // shuffle join to save the final round a cheap count — a net loss.
      converged = ssCount == eCount &&
        ss.join(e, Seq("u", "v"), "left_anti").count() == 0L
      Lineage.release(e)
      e = ss
      eCount = ssCount
      it += 1
    }
    if (!converged) {
      Lineage.release(e)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    }
    val last = e
    ExtCaches.trackReleasable(() => Lineage.release(last, blocking = true))
    // Stars point non-min vertices at the component min; every vertex
    // not on the pointing side (component minima AND self-pair-only
    // singletons) labels itself.
    val nonMin = e.select(col("u").as("v"), col("v").as("label"))
    nonMin.union(
      verts.join(nonMin, Seq("v"), "left_anti")
        .select(col("v"), col("v").as("label")))
  }

  /** Block-level exact span dedup — the C4 / "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al., ACL'22) substring-dedup
    * pass discretized to aligned `w`-token blocks: every maximal run of
    * tokens is split into consecutive non-overlapping blocks, a block
    * whose text appears anywhere else in the corpus survives ONLY in its
    * canonical first occurrence (smallest (doc_id, block_idx) — a total
    * order, so the keep set is deterministic and oracle-reproducible),
    * and each document is re-assembled from its kept blocks in order.
    * This is the operator that removes a boilerplate paragraph from every
    * document BUT ONE while whole-document dedup (x01) would keep every
    * copy — the granularity gap between document dedup and true
    * suffix-array substring dedup, at hash-join cost.
    *
    * Output per input document (≥ 1 token): total blocks, dropped blocks,
    * kept-token count, and the sha256 of the cleaned text — the released
    * artifact's audit digest (empty string when every block was dropped,
    * i.e. the document is pure duplicate content).
    *
    * Scale shape: block extraction is a per-row projection (no shuffle);
    * canonicalization is ONE groupBy on the 16-byte block hash (map-side
    * combinable min); the flag-back is an equi-join of the exploded
    * relation against the |distinct blocks|-sized canonical table; the
    * re-assembly aggregate holds per-DOC state only (bounded by the
    * longest document, like every shingle op). No windows, no sorts, no
    * all-pairs anything — the full pass is two shuffles regardless of
    * corpus size. A suffix-array variant finds unaligned overlaps too,
    * but is a global-sort build; the aligned-block form is the hash-join
    * approximation production corpus builds actually run first. */
  def blockDedup(df: DataFrame, idCol: String, textCol: String,
                 w: Int = 10): DataFrame = {
    val toks = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("t"))
      .withColumn("n", size(col("t")).cast(LongType))
      .filter(col("n") > 0)
    // Persisted barrier: the exploded block relation feeds BOTH the
    // canonical-occurrence aggregate and the flag-back join; without it
    // Catalyst inlines tokenization + block assembly into each side.
    val blocks = ExtCaches.persistTracked(toks
      .select(col("id"), col("n"),
        posexplode(transform(
          sequence(lit(0), ((col("n") - 1) / w).cast("int")),
          j => array_join(slice(col("t"), j * w + 1, lit(w)), " "))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "blk")
      .withColumn("h", md5(col("blk")))
      .withColumn("bt",
        least(lit(w.toLong), col("n") - col("idx").cast(LongType) * w)))
    val canon = blocks.groupBy(col("h"))
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    blocks.join(canon, Seq("h"))
      .withColumn("kept",
        col("id") === col("first.id") && col("idx") === col("first.idx"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        sum(when(col("kept"), col("bt")).otherwise(0L)).as("n_tokens_kept"),
        sha2(array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("idx"), col("blk"))))),
            e => e("blk")),
          " "), 256).as("clean_sha"))
  }

  /** Unaligned repeated-substring dedup — [[blockDedup]]'s (x54) documented
    * granularity gap, closed. x54 discretizes to aligned w-token blocks, so
    * a duplicate paragraph at token offset 3 produces NO equal block and
    * escapes by construction (SubstrDedupSpec pins the counter-case). This
    * operator slides the w-token window over EVERY offset — the published
    * ExactSubstr granularity (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22; there via a suffix array, an
    * equivalent-result global-sort build) — re-expressed as the same
    * hash-join shape the rest of the family uses:
    *
    *   1. windows: one md5 per (doc, offset) — |tokens| rows, the SAME
    *      explode scale every shingle operator already pays (x02's 3-gram
    *      index is n−2 rows/doc; this is n−w+1);
    *   2. canonical first occurrence per window hash (min struct — one
    *      map-side-combinable groupBy), every LATER occurrence is a
    *      duplicated window, exactly x54's keep-first rule made
    *      offset-robust (within-doc repeats count: the second copy of a
    *      phrase inside one document is dropped too);
    *   3. per-doc coverage: dropped offsets sort into maximal disjoint
    *      intervals via one array fold (offsets ascending ⇒ each either
    *      extends the last interval or opens a new one — O(k) after the
    *      in-row sort), giving duplicated-token count, maximal-span count,
    *      and the kept text (tokens outside every interval) in one pass.
    *
    * Output per document: n_tokens, n_dup_tokens (positions covered by
    * some non-canonical window), n_dup_spans (maximal covered runs), and
    * sha256 of the kept text — the audit digest of the document with its
    * repeated-elsewhere spans excised (first occurrences keep their text).
    *
    * Scale shape: two shuffles (window-hash groupBy + flag-back equi-join,
    * identical to x54) and one per-doc aggregate whose state is the
    * dropped-offset list — bounded by tokens-per-doc like every shingle
    * op. The kept-text filter is O(n·spans) per doc with spans ≤ n/w; for
    * book-length documents the interval list stays small because merged
    * spans are ≥ w tokens each. No windows over unreduced input, no
    * sorts, no all-pairs anything. */
  def substrDedup(df: DataFrame, idCol: String, textCol: String,
                  w: Int = 8): DataFrame = {
    // Persisted barrier: docs feed the window explode AND the final
    // re-assembly; wins feeds the canonical aggregate AND the flag-back.
    val docs = ExtCaches.persistTracked(df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("t"))
      .withColumn("n", size(col("t")).cast(LongType))
      .filter(col("n") > 0))
    val wins = ExtCaches.persistTracked(docs.filter(col("n") >= w)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), (col("n") - w).cast("int")),
          o => md5(concat_ws(" ", slice(col("t"), o + 1, lit(w)))))))
      .withColumnRenamed("pos", "o")
      .withColumnRenamed("col", "h"))
    val canon = wins.groupBy(col("h"))
      .agg(min(struct(col("id"), col("o"))).as("first"))
    val dropped = wins.join(canon, Seq("h"))
      .filter(!(col("id") === col("first.id") && col("o") === col("first.o")))
      .select(col("id"), col("o").cast(LongType).as("o"))
    val cov = dropped.groupBy(col("id"))
      .agg(array_sort(collect_list(col("o"))).as("os"))
    // Fold the ascending offsets into disjoint [s, e) intervals: an offset
    // beyond the open interval's end starts a new span; otherwise it
    // extends it (adjacent o == e is contiguous coverage — same span).
    val ivType = "array<struct<s:bigint,e:bigint>>"
    val iv = aggregate(
      coalesce(col("os"), expr("cast(array() as array<bigint>)")),
      expr(s"cast(array() as $ivType)"),
      (acc, o) => when(size(acc) === 0 || o > element_at(acc, -1)("e"),
          concat(acc, array(struct(o.as("s"), (o + w).as("e")))))
        .otherwise(concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(element_at(acc, -1)("s").as("s"), (o + w).as("e"))))))
    docs.join(cov, Seq("id"), "left")
      .withColumn("iv", iv)
      .select(col("id").as("doc_id"),
        col("n").as("n_tokens"),
        aggregate(col("iv"), lit(0L),
          (a, i) => a + (i("e") - i("s"))).as("n_dup_tokens"),
        size(col("iv")).cast(LongType).as("n_dup_spans"),
        sha2(concat_ws(" ", filter(col("t"),
          (tok, p) => !exists(col("iv"),
            i => i("s") <= p.cast(LongType) && p.cast(LongType) < i("e")))),
          256).as("clean_sha"))
  }

  /** Incremental near-dup dedup of an incoming batch against an ingested
    * base corpus via MinHash+LSH — the nightly-crawl NEAR-dup shape
    * ([[incrementalDedup]] covers the exact/1-perm case): every incoming
    * document that collides with a base document in any LSH band is
    * verified with exact Jaccard on full shingle sets, and the verified
    * matches (doc_id, base_id, jaccard ≥ threshold) are the batch rows a
    * pipeline drops (or routes to cluster-attach) before appending.
    *
    * Scale shape: the base side contributes ONLY its (band, bucket, id)
    * index and its shingle sets — at 100 TB both are the STORED artifacts
    * an ingest pipeline maintains (the signature index is a few hundred
    * bytes/doc; new batches append their own rows after passing the
    * gate). The candidate join is batch-bands × base-bands on
    * (band, bucket) — cost tracks collisions, never |batch|·|base| — and
    * the verify join touches candidates only. Within-batch near-dup is
    * [[minhashLshPairs]] on the batch alone; this operator is the
    * batch-vs-base half. */
  def incrementalLshPairs(base: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          w: Int = 3, perms: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val rows = perms / bands
    // Lazy (not persistEager): the round-7 boiler soak measured the
    // eager variant at 9-13.5 s on b30 against 4 s lazy — the same
    // serialize-the-fills effect the round-7 eager sweep isolated on
    // x51 (SCALING.md "Findings (round 7)").
    def prep(df: DataFrame): DataFrame = ExtCaches.persistTracked(
      df.select(col(idCol).as("id"),
        TextOps.shingles(TextOps.tokens(col(textCol)), w).as("sh")))
    val b = prep(base)
    val i = prep(incoming)
    def bandRowsOf(withSh: DataFrame): DataFrame =
      lshBands(withSh.withColumn("sig", minhashSignature(col("sh"), perms)),
        "id", "sig", bands, rows)
    val cand = bandRowsOf(i).as("x")
      .join(bandRowsOf(b).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("doc_id"), col("y.id").as("base_id"))
      .distinct()
    cand
      .join(i.select(col("id").as("doc_id"), col("sh").as("sh_a")), Seq("doc_id"))
      .join(b.select(col("id").as("base_id"), col("sh").as("sh_b")), Seq("base_id"))
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("base_id"), col("jaccard"))
  }

  /** Incremental ingest dedup — the nightly-crawl shape: an incoming
    * batch is deduplicated against an already-ingested base corpus AND
    * within itself, keyed on any per-row digest column (content md5 for
    * exact dedup, [[TextOps.fingerprint]] for 1-perm-MinHash near-dup).
    * Survivors = one incoming doc per new digest (smallest id wins —
    * deterministic) whose digest is absent from the base, plus every
    * incoming doc with a null digest (un-fingerprintable rows are passed
    * through, never silently dropped — and never collapsed into one
    * spurious null group).
    *
    * Scale shape: the base corpus contributes ONLY its distinct digest
    * projection (at 100 TB that relation is the stored dedup index — a
    * fraction of corpus width); the within-batch first-wins is one hash
    * aggregate on the digest (map-side combinable, no window/sort); the
    * base check is a left-anti equi-join that shuffles just
    * (digest, id) pairs. The incoming batch is typically ≪ base, so the
    * anti-join's runtime bloom/broadcast optimizations apply on the
    * small side. */
  def incrementalDedup(base: DataFrame, incoming: DataFrame, idCol: String,
                       digest: Column): DataFrame = {
    val inc = incoming.select(col(idCol).as("doc_id"), digest.as("digest"))
    val baseKeys = base.select(digest.as("digest"))
      .filter(col("digest").isNotNull).distinct()
    inc.filter(col("digest").isNotNull)
      .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
      .join(baseKeys, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"))
      .unionByName(inc.filter(col("digest").isNull))
  }

  /** Cluster summary from a component-label relation (the
    * [[connectedComponents]] output): one row per component with ≥ 2
    * members — (canonical_id = smallest member id, n_members). */
  def clusterSummary(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("canonical_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)

  /** Duplicate-cluster summary from a near-dup pair relation. The
    * downstream dedup filter is then `doc_id != canonical_id → drop`,
    * which is a broadcast/semi-join at any scale. Callers that need both
    * the summary and the member labels should run [[connectedComponents]]
    * once and derive both (the fixpoint is eager and iterative — see
    * graft.queries.Extensions.minhashDupLabels). */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    clusterSummary(connectedComponents(pairs, aCol, bCol))

  /** Passage-level near-dup candidates over winnowing fingerprints
    * (TextOps.winnowFingerprints): inverted-index self-equi-join on the
    * fingerprint, count DISTINCT shared fingerprints per pair (each doc's
    * set is already deduped), keep pairs sharing ≥ `minShared`. The
    * winnowing guarantee makes this the shared-PASSAGE detector — docs
    * that embed the same ≥ k+win−1-token run collide even when their
    * whole-document similarity is far below any MinHash threshold.
    *
    * Scale shape: same sub-quadratic inverted-index discipline as
    * [[ngramJaccardPairs]] — work is Σ df(fp)², bounded because winnowing
    * emits ~2/win of the k-gram positions and `dfCap` drops fingerprints
    * occurring in more than that many documents (boilerplate headers/
    * footers shared corpus-wide) before the join, exactly like
    * [[shingleIndex]]'s hook. All-integer output (no float similarity),
    * so the oracle hashes match in any order. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int, win: Int, minShared: Long,
                  dfCap: Option[Int] = None): DataFrame = {
    val raw = TextOps.winnowFingerprints(df, idCol, textCol, k, win)
      .select(col("doc_id").as("id"), explode(col("fps")).as("fp"))
    val idx = dfCap match {
      // Eager: the fingerprint index feeds both self-join sides
      // (persistEager Scaladoc — a lazy fill races on the join).
      case None => ExtCaches.persistEager(raw)
      case Some(cap) =>
        // Persist before deriving keep/probe: the fingerprint scan feeds
        // BOTH the df aggregate and the semi-join probe, and without a
        // barrier Catalyst inlines it into each — every document would be
        // tokenized and fingerprinted twice (the ngramJaccardPairs trap).
        val cached = ExtCaches.persistTracked(raw)
        val keep = cached.groupBy(col("fp"))
          .agg(count(lit(1)).as("df_count"))
          .filter(col("df_count") <= cap)
          .select(col("fp"))
        // Materialize the capped index eagerly, then release the raw
        // staging relation: its useful life ends here, and holding both
        // would double the cached footprint of the pipeline's largest
        // relation for the whole session segment.
        val built = ExtCaches.persistTracked(cached.join(keep, Seq("fp"), "left_semi"))
        built.count()
        ExtCaches.releaseTracked(cached)
        built
    }
    idx.as("a")
      .join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Quality-policy survivor selection: one REPRESENTATIVE per duplicate
    * cluster, chosen by a score instead of x23's smallest-id canonical —
    * the policy real pipelines run (keep the best-quality copy of a
    * near-dup family, not the one with the luckiest id). `scored` maps
    * every document id to its score; the representative is the member
    * maximizing (score, then smallest id) — a total order, so selection
    * is deterministic and oracle-reproducible.
    *
    * Shape: one equi-join of the label relation (|dup-cluster members|,
    * a fraction of the corpus) against the scored corpus on id, then one
    * hash aggregate per label using the q06 idiom — `max_by` over a
    * totally-ordered struct, sort-free and map-side combinable. No
    * window, no per-cluster sort; at 100 TB both sides shuffle once on
    * the id and the aggregate reduces to |clusters| rows. */
  def clusterRepresentatives(labels: DataFrame, scored: DataFrame,
                             idCol: String, scoreCol: String): DataFrame = {
    val members = labels.join(
      scored.select(col(idCol).as("v"), col(scoreCol).as("score")), Seq("v"))
    members
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score").as("score"),
          (-col("v").cast(LongType)).as("neg_id"))).as("best"))
      .filter(col("n_members") > 1)
      .select(col("cluster_id"), col("n_members"),
        (-col("best.neg_id")).as("rep_doc_id"),
        col("best.score").as("rep_score"))
  }

  /** Edit-distance near-dup pairs: all unordered pairs with character
    * Levenshtein distance ≤ `k` — the CHAR-granularity member of the
    * dedup family, catching the typo/OCR/template-variable duplicates
    * that token-shingle scores dilute (one char flip per line destroys
    * every containing shingle, but costs only a few edits).
    *
    * Candidate generation is the Ed-Join q-gram prefix filter
    * (Xiao/Wang/Lin VLDB'08, on Gravano et al. VLDB'01's count bound),
    * re-expressed as the same df→rarity-rank→prefix→equi-join ladder as
    * [[prefixJaccardPairs]]:
    *
    *  - Count bound: one edit rewrites at most `q` of a string's sliding
    *    q-gram windows, so a gram every one of whose occurrences died
    *    needs its own window casualty — at most k·q DISTINCT grams of A
    *    can be absent from B when ED(A,B) ≤ k: |G_A \ G_B| ≤ k·q.
    *  - Prefix lemma (symmetric prefix-prefix form): order grams by the
    *    GLOBAL total order (df asc, gram asc). If |G_A ∩ G_B| ≥ α, then
    *    the (|G_A|−α+1)-prefix of A and the (|G_B|−α+1)-prefix of B must
    *    share a gram (the canonical prefix-filter lemma: were the
    *    prefixes disjoint, each side could contribute at most its suffix
    *    — fewer than α common grams). With α = |G| − k·q both prefixes
    *    are (k·q+1)-prefixes, so the candidate join is PREFIX × PREFIX —
    *    Σ_g df_pref(g)² instead of the asymmetric Σ_g df_pref(g)·
    *    df_full(g) the round-8 form paid. Measured once at sf0.1 when
    *    this form landed (this note is the record): raw candidates
    *    981k → 874k (−11%) — modest HERE because
    *    this corpus's rare grams have near-unit posting lists, so
    *    df_full ≈ df_pref; the df_pref² bound is what survives a
    *    boilerplate-heavy corpus, where template grams blow up df_full
    *    but the rarity prefix never selects them.
    *  - The lemma needs α ≥ 1, i.e. MORE THAN k·q distinct grams per
    *    doc. Low-diversity docs — short texts (fewer than k·q+1 windows,
    *    len < k·q+q) or long-but-repetitive ones (distinct grams
    *    collapse below the bound) — can lose ALL their grams to k edits,
    *    so the gram join would silently drop their true pairs (the
    *    round-8 advice hole: 'abcde' vs 'abcdx' produced no candidate).
    *    Those docs take a separate BRUTE-FORCE arm: a length-bucket
    *    equi-join (bucket width k, low-diversity side exploded to its
    *    ±1 neighbor buckets, so the |len diff| ≤ k filter is a residual
    *    on an equi key — no nested-loop product) against the whole
    *    corpus. Recall-exactness needs the arm whenever the LOWER-
    *    ordered side of a pair is low-diversity; emitting both
    *    orientations and canonicalizing with least/greatest covers both.
    *  - Length filter: ED ≥ abs(|A| − |B|), so every candidate join
    *    carries abs-length ≤ k — recall-exact, like PPJoin's size filter.
    *
    * Verification is exact banded Levenshtein with early exit
    * (`levenshtein(a, b, k)` returns −1 past the threshold — O(k·n) per
    * pair, not O(n²)). The prefix keeps only each doc's rarest grams, so
    * the corpus-wide stop-gram tail (df ≈ n) never enters the candidate
    * join from either side — the survival property the x51 soak measures
    * on the boilerplate corpus. At 100 TB the gram index is one shuffle;
    * the verify join ships only candidate id pairs plus two text
    * lookups. The brute arm's cost is |low-diversity docs| × their
    * length-band population — bounded in practice (few real documents
    * have ≤ k·q distinct grams), and the price of closing the recall
    * hole exactly rather than documenting it away.
    *
    * `maxBruteBucket` is the brute arm's guard knob (the family's
    * guarded-operator discipline — x02's df-cap, x03/x05's
    * hotBucketCap, x59's cluster cap; round-9 advice): a corpus
    * dominated by SHORT docs piles both arms of the brute join into a
    * handful of length buckets and goes quadratic in the short-doc
    * count. With the cap set, corpus-side length buckets holding more
    * than `cap` docs are dropped from the brute arm (a broadcast
    * semi-join on the |buckets|-row keep list), bounding its fan-out at
    * |low-diversity docs| × 3·cap. Buckets at or under the cap keep the
    * exact recall-closing semantics; pairs whose partners sit in a
    * dropped hot bucket are lost — the same deliberate, documented
    * trade as every sibling guard (and exact dedup upstream should have
    * collapsed a hot bucket's mass-identical short docs anyway). */
  /** Bucket count of the x62 content-filter histogram — 32 longs per
    * document (256 B): small enough to ride the cached verify relation,
    * wide enough that random same-length documents land far above the
    * 2k threshold (measured at sf0.1: the filter passes ~1 in 50
    * candidates to the Levenshtein). */
  val EditDistHistBuckets = 32

  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, q: Int = 5,
                        maxBruteBucket: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.graftfn.{CharHistogram, L1DistanceLong}
    // Texts persist once: they feed the gram explode, the brute arm, and
    // both verify lookups. Docs shorter than q get their whole text as
    // the single gram (degenerate but total — no doc escapes routing).
    // `hist` (round 16) is the Ed-Join CONTENT filter's per-doc summary
    // (Xiao et al. VLDB'08 §4.3 class): a bucketed codepoint histogram,
    // computed once per doc at O(len), so candidate pairs can be pruned
    // by the L1 lower bound ED ≥ L1/2 (one edit moves ≤ 1 codepoint in
    // and ≤ 1 out; bucket collisions only lower L1 — recall-exact)
    // before the O(k·len) banded Levenshtein runs.
    val docs = ExtCaches.persistTracked(df.select(col(idCol).as("id"),
      col(textCol).as("text"), length(col(textCol)).as("len"),
      CharHistogram.of(col(textCol), EditDistHistBuckets).as("hist")))
    // Distinct gram count per row, computed IN the scan projection (no
    // extra shuffle): routes each doc to the prefix path (> k·q distinct
    // grams — the lemma's precondition) or the brute arm.
    val withGrams = docs.withColumn("grams",
      array_distinct(when(col("len") >= q,
        transform(sequence(lit(0), col("len") - q),
          i => col("text").substr(i + lit(1), lit(q))))
        .otherwise(array(col("text")))))
      .withColumn("n_grams", size(col("grams")))
    val idx = withGrams.filter(col("n_grams") > lit(k * q))
      .select(col("id"), col("len"), explode(col("grams")).as("gram"))
    val dfTab = idx.groupBy(col("gram")).agg(count(lit(1)).as("df_count"))
    val ranked = idx.join(dfTab, Seq("gram"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df_count"), col("gram"))
    // persistEager (round 16): the prefix relation is SELF-joined below,
    // and unpersisted each join side re-ran the whole gram explode →
    // df join → sort → WindowGroupLimit tower (the plan showed the
    // tower twice); eager fill is the x02/x52/x38 discipline for
    // self-join-dominated persists (ExtCaches.persistEager's scaladoc).
    // The relation is |docs|·(k·q+1) rows — the PREFIX, not the index.
    val prefix = ExtCaches.persistEager(ranked
      .withColumn("rnk", row_number().over(byRarity))
      .filter(col("rnk") <= lit(k * q + 1))
      .select(col("id"), col("len"), col("gram")))
    val candLong = prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id")
          && abs(col("a.len") - col("b.len")) <= lit(k))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // Brute arm: low-diversity docs against every doc within k length.
    // Bucket width k makes |lenA − lenB| ≤ k imply adjacent buckets, so
    // exploding the low-diversity side to {b−1, b, b+1} keeps the join
    // EQUI-keyed; least/greatest canonicalizes the pair orientation.
    val lowDiv = withGrams.filter(col("n_grams") <= lit(k * q))
      .select(col("id"), col("len"),
        floor(col("len") / k).cast(LongType).as("lb"))
    val corpusBucketed = docs.select(col("id"), col("len"),
      floor(col("len") / k).cast(LongType).as("lbk"))
    // Guarded corpus side: hot length buckets leave the brute arm (the
    // lowDiv explode probing a dropped key simply finds no partners).
    val bruteCorpus = maxBruteBucket.fold(corpusBucketed) { cap =>
      val keep = corpusBucketed.groupBy(col("lbk"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= cap)
        .select(col("lbk"))
      corpusBucketed.join(broadcast(keep), Seq("lbk"), "left_semi")
    }
    val candShort = lowDiv
      .select(col("id"), col("len"),
        explode(array(col("lb") - 1, col("lb"), col("lb") + 1)).as("lbk"))
      .as("a")
      .join(bruteCorpus.as("b"),
        col("a.lbk") === col("b.lbk") && col("a.id") =!= col("b.id")
          && abs(col("a.len") - col("b.len")) <= lit(k))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
    val candidates = candLong.unionByName(candShort).distinct()
    candidates
      .join(docs.select(col("id").as("id_a"), col("text").as("t_a"),
        col("hist").as("h_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("text").as("t_b"),
        col("hist").as("h_b")), Seq("id_b"))
      // Content filter: ED ≤ k forces L1(hist) ≤ 2k, so the inequality
      // below can never drop a true pair; it prunes false candidates at
      // ~|buckets| integer ops per pair before the Levenshtein's
      // O(k·len) cell sweep. Measured with the eager prefix persist
      // above (sf0.1, same environment): x62 9.0 → 2.0 s median,
      // output hash-identical at sf0.001/sf0.01.
      .filter(L1DistanceLong.l1(col("h_a"), col("h_b")) <= lit(2L * k))
      .withColumn("ed", levenshtein(col("t_a"), col("t_b"), k).cast(LongType))
      .filter(col("ed") >= 0)
      .select(col("id_a"), col("id_b"), col("ed"))
  }
}
