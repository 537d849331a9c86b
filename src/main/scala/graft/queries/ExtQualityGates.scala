package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.{Cdc, TopK}
import graft.streaming.EventStreams
import graft.tables.Tables

/** text analysis, quality/classifier/LM/DSIR curation, sampling/mixing, BPE, packing and decontamination gates — split from the former monolithic Extensions.scala
  * (round 14, pure mechanical move; one object still unions every
  * family — see [[Extensions]]). Registry slices are DEFS, not vals:
  * they are evaluated once at union time in Extensions' constructor,
  * AFTER every mixed-in trait's constants are initialized, so the
  * oracle strings may interpolate any family's constants safely. */
private[queries] trait ExtQualityGates { this: ExtCore =>


  // ---- x08–x11: text analysis --------------------------------------------

  def x08_text_stats(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenStats(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_distinct_tokens"), col("total_token_chars"),
        col("type_token_ratio"), col("avg_token_len"))
      .orderBy(col("doc_id"))


  def x09_text_quality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("punct_chars"), col("stopword_count"), col("punct_ratio"),
        col("stopword_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))


  def x10_text_langid(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(Tables.documents(s, dir))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted_lang"))


  def x11_text_fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextOps.fingerprint(TextOps.tokens(col("text")), w = 3).as("fingerprint"))
      .orderBy(col("doc_id"))


  // ---- x18: corpus-statistics rarity scoring -----------------------------

  /** Per-document bigram rarity against CORPUS-level statistics: two-pass
    * shape — aggregate global bigram frequencies, then join them back to
    * every occurrence and re-aggregate per document. This is the plan
    * behind corpus-level quality/rarity filtering in training-data
    * pipelines (a document whose phrases are globally rare is either
    * novel or noise). All-integer arithmetic until one final divide, so
    * the oracle matches bitwise; no log-likelihood here because libm
    * functions are not bit-portable across engines. */
  def x18_text_rarity(s: SparkSession, dir: String): DataFrame = {
    // Cached (tracked in ExtCaches): feeds both the corpus-stats pass and
    // the per-doc join-back.
    val occ = graft.ext.ExtCaches.persistTracked(Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graftfn.ShingleArray
          .shingleOccurrences(TextOps.tokens(col("text")), 2)).as("bigram")))
    val cf = occ.groupBy(col("bigram")).agg(count(lit(1)).as("cf"))
    occ.join(cf, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        ratio(sum(col("cf")), count(lit(1))).as("avg_bigram_cf"),
        min(col("cf")).as("min_bigram_cf"))
      .orderBy(col("doc_id"))
  }


  // ---- x21: deterministic sampling (dataset mixing) -----------------------

  val SampleFrac = 0.25 // binary-exact so both engines see the same cut


  /** Scan-only hash-threshold sample: the 100 TB downsampling pass. */
  def x21_sample_hash(s: SparkSession, dir: String): DataFrame =
    Sampling.hashThresholdSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", SampleFrac)
      .orderBy(col("doc_id"))


  /** Exact per-stratum sample: ceil(n·frac) docs per language. */
  def x21_sample_stratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedExactSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "lang", "doc_id", SampleFrac)
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy(col("lang"), col("rnk"))


  // ---- x22: vocabulary coverage / OOV rate --------------------------------

  val VocabSize = 50


  def x22_vocab_coverage(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabCoverage(Tables.documents(s, dir), "doc_id", "text", VocabSize)
      .orderBy(col("doc_id"))


  // ---- x24: repetition / boilerplate quality metrics ---------------------

  def x24_repetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))


  // ---- x30: per-source contribution caps ---------------------------------

  /** "Keep at most `SourceCap` documents per source, best first" — the
    * absolute-budget curation pass (one flooding crawl domain must not
    * swamp the corpus; x27's mixture weights bound sources
    * PROPORTIONALLY, this bounds them absolutely). Quality-ranked with a
    * doc_id tiebreak — a total order, so the kept set is deterministic
    * and oracle-reproducible; the rank-filter plans as WindowGroupLimit
    * (PlanSpec fleet gate), so no partition materializes more than
    * `SourceCap` rows per source. 15 < the 25 docs/source of the
    * smallest oracle-gated corpus (sf0.01), so the cap BINDS at every
    * tested scale — a cap the correctness gate never sees bind is not
    * tested. */
  val SourceCap = 15


  def x30_source_caps(s: SparkSession, dir: String): DataFrame =
    TopK.perGroup(
        TextOps.qualityScore(Tables.documents(s, dir)),
        Seq(col("source")), Seq(desc("quality_score"), col("doc_id")), SourceCap)
      .select(col("source"), col("rnk"), col("doc_id"), col("quality_score"))
      .orderBy(col("source"), col("rnk"))


  // ---- x31: token-window chunking ----------------------------------------

  /** Chunk geometry: 64-token windows, stride 48 (16-token overlap). */
  val ChunkSize = 64

  val ChunkStride = 48


  /** The tokenize-and-pack step (TextOps.chunkTokens): per-row windowing
    * at scan speed, output keyed by chunk hash for downstream dedup. */
  def x31_chunks(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
        ChunkSize, ChunkStride)
      .orderBy(col("doc_id"), col("chunk_id"))


  // ---- x32: per-document salient terms (keyword extraction) --------------

  val KeywordsPerDoc = 3


  /** Top-3 terms per document by tf/df salience (TextOps
    * .tfSalienceTopTerms): two map-side-combinable corpus aggregates, a
    * broadcast df join-back, WindowGroupLimit per-doc top-k. Integer
    * arithmetic until the one IEEE divide — no libm log (x18's rule). */
  def x32_doc_keywords(s: SparkSession, dir: String): DataFrame =
    TextOps.tfSalienceTopTerms(Tables.documents(s, dir), "doc_id", "text",
        KeywordsPerDoc)
      .orderBy(col("doc_id"), col("rnk"))


  /** x26's target corpus language — the C4-style "keep documents the
    * language-ID model says are X" selection. (The metadata `lang` label
    * is NOT used as the gate: the synthetic corpus is English-shaped text
    * under every label, so the classifier predicts en throughout, and the
    * report below groups by the metadata label precisely to expose that
    * label/content disagreement per stratum.) Interpolated into both
    * engine and oracle. */
  val TargetLang = "en"


  /** The whole pipeline in one query — what a C4/Gopher-style corpus
    * build runs end to end, each stage an operator proven on its own
    * elsewhere in this file:
    *
    *   1. per-row scoring at scan speed: language ID (x10) + quality
    *      metrics (x09), one pass, no shuffle;
    *   2. gates: predicted language = [[TargetLang]] (target-language
    *      selection), quality_score ≥ [[QualityGate]];
    *   3. exact dedup (x01's digest): keep the min doc_id per sha256 —
    *      a groupBy on the digest plus a semi-join back, never a sort;
    *   4. near-dup dedup (x03→x20→x23): anti-join against the dropped
    *      side of the SHARED component-label fixpoint (one CC run serves
    *      x20, x23 and x26 via minhashDupLabels);
    *   5. the deliverable: per-language corpus report — doc counts and
    *      exact integer token/char totals (what a tokenizer-budget plan
    *      consumes), min/max quality as the gate audit.
    *
    * The gated corpus is materialized once (persistTracked): it feeds
    * both the digest aggregate and the semi-join probe, and at 100 TB a
    * pipeline would checkpoint exactly this relation before the dedup
    * joins. Aggregate outputs are integers (exact in any order) — never
    * order-dependent double sums (oracle-parity rule). */
  def x26_pipeline_gate(s: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.langId(TextOps.qualityScore(Tables.documents(s, dir)))
    val gated = ExtCaches.persistTracked(scored
      .filter(col("predicted_lang") === TargetLang &&
        col("quality_score") >= QualityGate)
      .select(col("doc_id"), col("lang"), col("text"),
        col("n_chars"), col("n_tokens"), col("quality_score")))
    val keepIds = gated
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dropped = minhashDupLabels(s, dir)
      .filter(col("label") =!= col("v"))
      .select(col("v").as("doc_id"))
    gated
      .join(keepIds, Seq("doc_id"), "left_semi")
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .orderBy(col("lang"))
  }


  /** [[x26_pipeline_gate]] widened into the FULL corpus build (round-7
    * wiring of the round-6 closers into the composed pipeline):
    *
    *   1–3. gate + exact dedup, exactly x26's stages;
    *   4. block-level span dedup (x54's operator, over the exact
    *      survivors): per-doc post-dedup token counts, and documents
    *      whose every block is duplicate content are dropped — the
    *      C4/Lee-et-al granularity between whole-doc exact and near-dup;
    *   5. near-dup anti-join against the dropped side of the SHARED
    *      component fixpoint (one CC run still serves x20/x23/x26/x53
    *      and this query via minhashDupLabels);
    *   6. x53's leakage-safe split as the final stage: every near-dup
    *      family draws ONE split from its cluster label, so no family
    *      straddles train/val/test;
    *   7. deliverable: per (lang, split) doc counts with BOTH token
    *      totals — raw and post-block-dedup, the tokenizer-budget pair a
    *      training-data plan consumes.
    *
    * Scale: every stage is an equi-join / hash-aggregate proven
    * individually (x26, x54, x53); composing them adds no new shuffle
    * class, and the block stage runs on the already-gated corpus — at
    * 100 TB exactly where a pipeline wants its most token-heavy pass. */
  def x26b_corpus_build(s: SparkSession, dir: String): DataFrame = {
    val scored = TextOps.langId(TextOps.qualityScore(Tables.documents(s, dir)))
    val gated = ExtCaches.persistTracked(scored
      .filter(col("predicted_lang") === TargetLang &&
        col("quality_score") >= QualityGate)
      .select(col("doc_id"), col("lang"), col("text"),
        col("n_chars"), col("n_tokens"), col("quality_score")))
    val keepIds = gated
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactKept = ExtCaches.persistTracked(
      gated.join(keepIds, Seq("doc_id"), "left_semi"))
    val blockStats = Dedup.blockDedup(exactKept, "doc_id", "text", BlockW)
      .filter(col("n_tokens_kept") > 0)
      .select(col("doc_id"), col("n_tokens_kept"))
    val labels = minhashDupLabels(s, dir)
    val dropped = labels
      .filter(col("label") =!= col("v"))
      .select(col("v").as("doc_id"))
    // surv is consumed TWICE (the split derivation and the final join),
    // and its tower includes the block-dedup token pass — unpersisted,
    // that pass executed once per reference (round 17, §2.4). Projected
    // to the four columns the consumers need (§2.3 — the final
    // aggregate never touches text), it is a narrow |survivors|-row
    // persist.
    val surv = ExtCaches.persistTracked(exactKept
      .join(blockStats, Seq("doc_id"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_tokens_kept")))
    val split = Sampling.clusterSplit(surv, "doc_id", labels,
      SplitTrainFrac, SplitValFrac, SplitSalt)
    surv
      .join(split.select(col("doc_id"), col("split")), Seq("doc_id"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_tokens_kept")).as("kept_block_tokens"))
      .orderBy(col("lang"), col("split"))
  }


  // ---- x27: dataset mixing — per-source mixture weights -------------------

  /** The mixture recipe: named sources with their keep fractions (all
    * binary-exact so both engines compute the identical cut); the other
    * 16 sources in the corpus are dropped — exactly how a training mix
    * names its corpora and weights them. Interpolated into both the
    * Spark filter and the oracle SQL via [[mixtureCaseSql]]. */
  val MixtureWeights: Map[String, Double] =
    Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 1.0, "src3" -> 0.125)


  /** The oracle-side twin of Sampling.weightedMixtureSample's CASE ladder,
    * generated from the SAME weights map so the two sides cannot drift. */
  private[queries] def mixtureCaseSql: String =
    MixtureWeights.toSeq.sortBy(_._1).map { case (k, f) =>
      s"WHEN '$k' THEN '${Sampling.cutFor(f)}'"
    }.mkString("CASE source ", " ", " ELSE NULL END")


  /** Deterministic mixture sampling + the achieved-mix audit: sample each
    * named source at its weight in one scan-only pass, then report kept
    * doc counts and exact token totals per (source, lang) — the numbers a
    * mixture re-balance loop actually monitors. */
  def x27_source_mixture(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedMixtureSample(
        TextOps.tokenStats(Tables.documents(s, dir)), "doc_id", "source",
        MixtureWeights)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"), col("lang"))


  // ---- x28: eval-set decontamination --------------------------------------

  /** The held-out "benchmark" slice for x28: a deterministic hash sample
    * of the corpus (the x21 cut machinery), standing in for an eval set.
    * Small by construction — exactly the real-world shape, where the
    * benchmark suite is kilobytes against a 100 TB corpus. */
  val EvalFrac = 0.0625


  /** Decontamination — NOT symmetric dedup: for every TRAINING document,
    * the fraction of its 3-token shingles that also appear anywhere in
    * the EVAL set. Train docs above [[ContaminationThreshold]] would be
    * dropped before training (they leak benchmark content). Scale shape:
    * the eval shingle vocabulary is tiny and broadcasts; the corpus side
    * is one explode + one broadcast LEFT SEMI-style join + one per-doc
    * aggregate — never corpus×corpus. Output: every contaminated doc
    * with its overlap counts (all-integer; one final divide). */
  val ContaminationThreshold = 0.25


  def x28_decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isEval = Sampling.hashThresholdPredicate(col("doc_id"), EvalFrac)
    val shingled = docs
      .select(col("doc_id"),
        TextOps.shingles(TextOps.tokens(col("text"))).as("sh"), isEval.as("is_eval"))
    val evalShingles = shingled.filter(col("is_eval"))
      .select(explode(col("sh")).as("shingle")).distinct()
    shingled.filter(!col("is_eval"))
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"),
        explode(col("sh")).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .filter(col("overlap_frac") >= ContaminationThreshold)
      .orderBy(col("doc_id"))
  }


  // ---- x34: token-budget corpus selection ---------------------------------

  /** ~44 % of the sf0.01 corpus's tokens, ~4.4 % of sf0.1's — the
    * budget binds (cuts off mid-histogram) at every tested scale. */
  val TokenBudget = 12000L

  val QualityBuckets = 100


  /** "Build the best `TokenBudget`-token corpus": quality-histogram
    * threshold selection (Sampling.budgetBuckets over the x09 quality
    * score, weighted by token count) — the scale-safe replacement for a
    * global quality sort + running sum, which would be an unpartitioned
    * window over the whole corpus. */
  def x34_token_budget(s: SparkSession, dir: String): DataFrame =
    Sampling.budgetBuckets(
        TextOps.qualityScore(Tables.documents(s, dir)),
        col("quality_score"), col("n_tokens"), TokenBudget, QualityBuckets)
      .orderBy(desc("bucket"))


  // ---- x35: compliance scrub (PII-redaction plumbing) ---------------------

  /** Blocklist for x35: frequent corpus terms, so the scrub FIRES on most
    * documents at every tested scale — a redaction gate the correctness
    * gate never sees fire is not tested. A production deployment swaps
    * the alternation for PII patterns (emails/phones/SSNs); the synthetic
    * corpus carries none, and the operator is the plumbing, not the
    * pattern. Sorted inside scrubPattern so term order can't change the
    * regex. */
  val ScrubTerms: Seq[String] = Seq("customer", "table", "stream")

  val ScrubMask = "<MASK>"


  /** Redact every blocklisted term and emit the audit triple per doc:
    * hit count, scrubbed length, sha256 of the released bytes (see
    * TextOps.scrubTerms for the scale shape — pure scan-speed
    * projection, CountMatchesRule keeps the hit count allocation-free). */
  def x35_blocklist_scrub(s: SparkSession, dir: String): DataFrame =
    TextOps.scrubTerms(Tables.documents(s, dir), "doc_id", "text",
        ScrubTerms, ScrubMask)
      .orderBy(col("doc_id"))


  // ---- x39: per-source token frequencies via the Misra–Gries UDAF ---------

  /** Counter budget for x39 — chosen ABOVE the corpus's per-source
    * distinct-token count (31 at every SF, fixed by the generator's
    * vocabulary), which puts Misra–Gries in its exactness regime: no
    * counter ever evicts, so every (item, count) is the true frequency
    * and the DuckDB GROUP BY oracle matches bit-for-bit. This
    * oracle-gates the TypedImperativeAggregate rung of the Catalyst
    * ladder end-to-end (the k < distinct sketch regime — lower bounds,
    * n/(k+1) coverage — is property-tested in PropertySpec, where an
    * oracle cannot express the guarantee). */
  val HeavyK = 32


  /** Per-source token frequency tables computed through the custom
    * bounded-memory aggregate (graftfn.HeavyHitters): one explode + one
    * hash aggregate whose per-group state is ≤ k counters regardless of
    * stream length — the shape that survives 100 TB token streams where
    * an exact (source, token) COUNT pivot would. Output exploded back to
    * rows and totally ordered, so the array's internal order (map
    * iteration — nondeterministic) never reaches the gate. */
  def x39_heavy_hitters(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(org.apache.spark.sql.graftfn.HeavyHitters.of(col("tok"), HeavyK).as("hh"))
      .select(col("source"), explode(col("hh")).as("e"))
      .select(col("source"), col("e.item").as("token"),
        col("e.count_lower").as("n"))
      .orderBy(col("source"), col("token"))


  // ---- x44: sequence packing into training context windows ----------------

  /** Pack length in tokens. Small enough that sf0.01's ~55-token median
    * docs yield multi-doc packs AND boundary-straddling docs at every
    * tested scale — both manifest shapes exercised; a production run
    * sets the model's context length. */
  val CtxLen = 256L


  /** Context-window packing manifest (Packing.packManifest): documents
    * hash-sharded into 16 independent token streams, concat-and-chunk
    * placement per stream via one shard-partitioned cumulative-sum
    * window. The manifest is what a pretraining loader consumes — for
    * any pack index it can locate exactly the documents whose token
    * ranges intersect it. One shuffle, bounded per-partition state; the
    * shard count is the 100 TB parallelism knob. */
  def x44_sequence_packing(s: SparkSession, dir: String): DataFrame =
    Packing.packManifest(Tables.documents(s, dir), "doc_id",
        size(TextOps.tokens(col("text"))), CtxLen)
      .orderBy(col("doc_id"))


  // ---- x45: bloom-prefiltered decontamination ------------------------------

  /** Bloom sizing: ~1.2 MB per million expected distinct eval shingles
    * at the default FPP; generous for every tested scale factor. */
  val BloomExpectedItems = 1L << 20


  /** x28's decontamination with the broadcast semi-join replaced by the
    * at-scale shape: when the eval-shingle vocabulary outgrows the
    * broadcast threshold (a benchmark SUITE at 100 TB — millions of
    * documents, billions of shingles), the corpus side must meet it in a
    * SHUFFLE semi-join, and the cost driver becomes how many corpus
    * shingle occurrences reach that shuffle. A bloom filter over the
    * eval vocabulary (Spark's own runtime-filter aggregate, built here
    * explicitly because the optimizer only injects it for equi-joins it
    * can prove selective — graftfn.BloomPrune) broadcasts at ~1 MB/M
    * keys and prunes the non-contaminated bulk BEFORE the shuffle; the
    * exact semi-join on the survivors keeps the output bit-identical to
    * x28 (bloom false positives die in the join, never reach the
    * result). Same oracle SQL as x28 — the bloom is invisible in the
    * answer, by construction. */
  def x45_decontamination_bloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isEval = Sampling.hashThresholdPredicate(col("doc_id"), EvalFrac)
    val shingled = docs
      .select(col("doc_id"),
        TextOps.shingles(TextOps.tokens(col("text"))).as("sh"), isEval.as("is_eval"))
    // Two consumers (bloom build + exact confirm): persist, or the eval
    // docs re-tokenize per consumer.
    val evalShingles = ExtCaches.persistTracked(
      shingled.filter(col("is_eval"))
        .select(explode(col("sh")).as("shingle")).distinct())
    val bloom = evalShingles.agg(
      org.apache.spark.sql.graftfn.BloomPrune.bloomAgg(col("shingle"), BloomExpectedItems).as("bloom"))
    shingled.filter(!col("is_eval"))
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n_shingles"),
        explode(col("sh")).as("shingle"))
      // the bloom rides in as a scalar subquery (might_contain's required
      // shape — see BloomPrune.mightContain), primed once per task
      .filter(org.apache.spark.sql.graftfn.BloomPrune.mightContain(bloom, col("shingle")))
      // deliberately NO broadcast hint: this is the shuffle semi-join the
      // bloom exists to feed less (AQE may still broadcast at test scale)
      .join(evalShingles, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("overlap_frac",
        col("n_shared").cast("double") / col("n_shingles").cast("double"))
      .filter(col("overlap_frac") >= ContaminationThreshold)
      .orderBy(col("doc_id"))
  }


  // ---- x46: adjacent-pair counts (vocabulary merge mining) -----------------

  /** Top-k cutoff for the merge-candidate table. */
  val BpeTopPairs = 100


  /** The BPE-training inner loop's statistic, at word granularity: count
    * every ADJACENT token pair across the corpus and rank merge
    * candidates. One `zip_with` of the token array against its own tail
    * (no index arithmetic, no self-join), one explode, one hash
    * aggregate — partial counts combine map-side, so the shuffle carries
    * |vocab²∩corpus| pair keys, not token occurrences — and a global
    * top-k that plans as TakeOrderedAndProject (no global sort). A real
    * BPE trainer iterates this op over subword units with the previous
    * round's merges applied; the per-round statistic is exactly this
    * query, and the iteration discipline is x20's (checkpointed
    * fixpoint). Deterministic tiebreak: count desc, then pair. */
  def x46_bigram_counts(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(TextOps.adjacentPairs(col("t"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair")).limit(BpeTopPairs)
  }


  // ---- x60: iterated BPE merge loop (k rounds of x46 + application) -------

  /** Merge rounds for x60 — enough to prove the loop (count → pick →
    * APPLY → re-count) composes: round 2's winner can only exist because
    * round 1's merge rewrote the corpus. */
  val BpeRounds = 3


  def x60_bpe_merges(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeMergeLoop(Tables.documents(s, dir), "doc_id", "text", BpeRounds)
      .orderBy(col("round"))


  // ---- x66: BPE tokenizer-apply (the encode half of train→apply) ----------

  /** x60 learns the merge table; x66 proves the engine can RUN it back
    * over the corpus — the per-document encoded sequence after the same
    * k rounds, delivered as (token count, sequence digest) so the hash
    * gate pins every document's exact token-by-token encoding, not just
    * corpus totals. Winner selection and the greedy-leftmost fold are
    * the SAME private helpers x60 uses (one spelling of the tie-break);
    * the oracle reuses x60's unrolled-round CTE chain and digests
    * seqs_k, with <2-token docs passing through unchanged on both
    * sides. Scale shape = x60's per round; the encode itself adds one
    * per-row fold and never shuffles the corpus. */
  def x66_bpe_encode(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeEncode(Tables.documents(s, dir), "doc_id", "text", BpeRounds)
      .select(col("id").as("doc_id"),
        size(col("t")).cast(LongType).as("n_tokens"),
        md5(concat_ws(" ", col("t"))).as("seq_digest"))
      .orderBy(col("doc_id"))


  // ---- x67: per-source length-band gate (C4-style outlier pruning) --------

  /** Length-outlier pruning the way curation pipelines actually spell it
    * (C4 / Gopher rules): per SOURCE, drop the shortest 5% and longest 5%
    * of documents by token count, with the cut defined by EXACT rank —
    * row_number over the (n_tokens, doc_id) total order, keep
    * lo < r ≤ hi with lo = floor(0.05·n), hi = ceil(0.95·n) — so the
    * gate is integer-deterministic and the oracle replays it row for
    * row (a percentile-of-doubles spelling would inherit interpolation
    * semantics that differ across engines; rank doesn't). Output: per
    * source, the kept count, the LEARNED token bounds (min/max kept —
    * what a config snapshot would freeze), and kept token mass.
    *
    * Scale shape: one (source, n_tokens)-keyed sort shuffle for the rank
    * window (partition count = |sources|, each internally sorted — same
    * cost class as any keyed ORDER BY), a broadcast of the |sources|-row
    * count table, one final aggregate. At 100 TB with few huge sources,
    * swap exact rank for a two-pass approx-quantile bound + broadcast
    * filter — the documented sketch trade; the exact form here is the
    * oracle-checkable contract the sketch must approximate. */
  def x67_length_gate(s: SparkSession, dir: String): DataFrame =
    x67_length_gate0(Tables.documents(s, dir))


  /** x67 over an explicit documents relation (test seam for the
    * constructed-ladder spec). */
  def x67_length_gate0(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
    val counts = t.groupBy(col("source")).agg(count(lit(1)).as("n_docs_src"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(col("n_tokens"), col("doc_id"))
    t.withColumn("r", row_number().over(w).cast(LongType))
      .join(broadcast(counts), Seq("source"))
      .filter(col("r") >
          floor(col("n_docs_src").cast(DoubleType) * lit(0.05)).cast(LongType)
        && col("r") <=
          ceil(col("n_docs_src").cast(DoubleType) * lit(0.95)).cast(LongType))
      .groupBy(col("source"), col("n_docs_src"))
      .agg(count(lit(1)).as("kept_docs"),
        min(col("n_tokens")).as("min_kept_tokens"),
        max(col("n_tokens")).as("max_kept_tokens"),
        sum(col("n_tokens")).as("kept_tokens"))
      .orderBy(col("source"))
  }


  /** The 100 TB form x67's Scaladoc promises — now implemented, not just
    * documented (round-9 verdict stretch #8): ONE aggregation pass
    * computes per-source approx-quantile token bounds
    * (`percentile_approx`, a mergeable KLL-family sketch — map-side
    * combinable, NO sort shuffle), the |sources|-row bounds table
    * broadcasts, and a plain filter + aggregate replaces the rank
    * window. Cost class drops from a per-source sort shuffle (the exact
    * form's rank window — each source's rows sorted in one partition,
    * the few-huge-sources hazard) to two linear scans.
    *
    * NOT a registry query: sketch quantiles are engine-specific by
    * construction (DuckDB and Spark implement different sketches), so
    * the exact-rank x67 stays the oracle-checkable contract and THIS
    * form's claim is proximity to it — spec-gated (ApproxLengthGateSpec)
    * at two scale factors and soaked beside x67's cost. Tolerance
    * model: percentile_approx at `accuracy` a guarantees a rank error
    * ≤ n/a per source; boundary TIES add the count of docs sharing the
    * boundary token value (the exact form splits ties by rank, a
    * value-space bound cannot), so kept_docs may differ by
    * (n_docs_src/accuracy + ties at the two boundary values) — both
    * measured in the spec. */
  def x67_length_gate_approx0(docs: DataFrame,
                              accuracy: Int = 10000): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
    val bounds = t.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs_src"),
      percentile_approx(col("n_tokens"), lit(0.05), lit(accuracy)).as("lo"),
      percentile_approx(col("n_tokens"), lit(0.95), lit(accuracy)).as("hi"))
    t.join(broadcast(bounds), Seq("source"))
      .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .groupBy(col("source"), col("n_docs_src"))
      .agg(count(lit(1)).as("kept_docs"),
        min(col("n_tokens")).as("min_kept_tokens"),
        max(col("n_tokens")).as("max_kept_tokens"),
        sum(col("n_tokens")).as("kept_tokens"))
      .orderBy(col("source"))
  }


  // ---- x48: per-source token-mass equalization (mixture APPLICATION) ------

  /** The sampling step x27 only plans for: x27 reports per-source
    * mixture weights; this op APPLIES a re-weighting by deterministic
    * hash rejection — each source is downsampled to the token mass of
    * the smallest source (the temperature→0 limit of mT5/XLM-R-style
    * temperature sampling; a λ-blend of natural and uniform shares is
    * the same machinery with rational target shares).
    *
    * Exactness discipline: the accept test is ALL-INTEGER —
    * u16 · src_tokens < 2^16 · min_tokens, where u16 is the first 4 hex
    * digits of md5(doc_id) (16-bit hash fraction, rate resolution
    * 1/65536) — because a double `pow`/divide rate could differ by an
    * ulp between engines and flip a boundary document out of the
    * bit-exact oracle gate. Long products stay exact up to 2^47 tokens
    * per source (~140 T), the 100 TB budget. Scale shape: two pruned
    * corpus scans — the weight build and the probe (the corpus itself
    * is never cached; only the |sources|-row weight table persists, so
    * the min anchor derives from it rather than re-scanning) — then a
    * broadcast join, a 1-row broadcast min anchor, and one
    * map-side-combinable summary aggregate; re-run-stable and
    * append-stable like every hash-gated sampler here ([[Sampling]]). */
  def x48_source_equalize(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
    // persist the tiny weight table: the min anchor is an aggregate OVER
    // it, and without the barrier its subplan re-runs the corpus scan
    // (Spark reuses identical exchanges, not bare aggregate subtrees)
    val bySource = ExtCaches.persistTracked(t.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens")))
    val minTok = bySource.agg(min(col("src_tokens")).as("min_tokens"))
    val u16 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast(LongType)
    t.join(broadcast(bySource), Seq("source"))
      .crossJoin(broadcast(minTok)) // 1-row anchor, fleet-gate-bounded
      .filter(u16 * col("src_tokens") < lit(65536L) * col("min_tokens"))
      .groupBy(col("source"), col("src_tokens"), col("min_tokens"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
      .orderBy(col("source"))
  }


  // ---- x61: temperature-sampled mixture (rational-τ generalization of x48)

  /** x48's Scaladoc claims a λ-blend / temperature mixture is "the same
    * machinery with rational target shares" — x61 proves it with τ = 1/2
    * (the mT5/XLM-R temperature-sampling family, Xue et al. NAACL'21 /
    * Conneau et al. ACL'20): per-source keep rate r_i = (min/src)^(1−τ)
    * = sqrt(min_tokens/src_tokens), so kept token mass ∝ src_tokens^τ —
    * large sources are damped toward (not onto) the uniform share, the
    * standard low-resource-upweighting curve. τ→0 recovers x48 exactly.
    *
    * Exactness discipline: the square root never gets evaluated — the
    * accept test is SQUARED into all-integer form, u16²·src_tokens <
    * 2³²·min_tokens (for general rational τ = a/b the same move gives
    * u16^b·src^a < 2^(16b)·min^a). The products are DECIMAL(38,0) /
    * HUGEINT (u16² alone is 2³²; ×src_tokens would overflow int64 past
    * 2³¹ tokens per source — decimal keeps the 100 TB budget with exact
    * integer compares, no ulp anywhere). Per-document containment is
    * provable, not just statistical: u16·src < 2¹⁶·min implies
    * u16²·src < 2³²·min (multiply by u16 < 2¹⁶), so x48's kept set ⊆
    * x61's kept set document-by-document — spec-asserted. Scale shape:
    * identical to x48 (two pruned scans, broadcast weight table, 1-row
    * min anchor, one summary aggregate). */
  def x61_source_temperature(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tokens"))
    val bySource = ExtCaches.persistTracked(t.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens")))
    val minTok = bySource.agg(min(col("src_tokens")).as("min_tokens"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val u16 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast(LongType).cast(dec)
    t.join(broadcast(bySource), Seq("source"))
      .crossJoin(broadcast(minTok)) // 1-row anchor, fleet-gate-bounded
      .filter(u16 * u16 * col("src_tokens").cast(dec) <
        lit(4294967296L).cast(dec) * col("min_tokens").cast(dec))
      .groupBy(col("source"), col("src_tokens"), col("min_tokens"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
      .orderBy(col("source"))
  }


  /** Weak-label NB-vote quality classifier (x80): the train-on-heuristic
    * / apply-corpus-wide loop of model-based curation. The weak label is
    * the x09 quality score gated at [[QualityGate]] (the same signal the
    * x26 pipeline consumes); training is one integer aggregate to a
    * per-token vote, scoring one equi-join + per-doc sum — see
    * [[graft.ext.Classify.nbVoteScores]] for why the vote form (not
    * log-odds) is the oracle-gatable one. In-sample by construction
    * here; a deployment trains on a labeled slice and applies to the
    * rest with the identical plan. */
  def x80_quality_classifier(s: SparkSession, dir: String): DataFrame =
    graft.ext.Classify.nbVoteScores(
        TextOps.qualityScore(Tables.documents(s, dir))
          .withColumn("label_pos", col("quality_score") >= QualityGate),
        "doc_id", "label_pos", "text")
      .orderBy(col("doc_id"))


  /** Train/apply split classifier (x83): x80's model trained ONLY on the
    * [[BaseFrac]] hash slice (whose weak labels come from the same x09
    * quality gate), applied to the held-out rest — the production shape
    * where x80 is the in-sample demonstration. Tokens outside the
    * training vocabulary contribute nothing (standard fixed-vocab OOV);
    * the apply output carries no label column because the apply corpus,
    * in production, has none. */
  def x83_classifier_split(s: SparkSession, dir: String): DataFrame = {
    val labeled = TextOps.qualityScore(Tables.documents(s, dir))
      .withColumn("label_pos", col("quality_score") >= QualityGate)
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    graft.ext.Classify.nbVoteScoresSplit(
        labeled.filter(inBase), labeled.filter(!inBase),
        "doc_id", "label_pos", "text")
      .orderBy(col("doc_id"))
  }


  /** Holdout confusion matrix for the split classifier (x86) — the
    * round-10 verdict's missing quality number: x83's predictions on the
    * held-out slice confronted with that slice's OWN weak labels (never
    * seen in training). One row: integer tp/fp/fn/tn + one-divide
    * precision/recall/accuracy — the measurement that prices the
    * [[QualityGate]] threshold and the whole "model-based curation"
    * claim.
    *
    * THE MEASURED FINDING (round 11): at the shipped decision rule
    * (vote_score > 0) the classifier predicts POSITIVE for every
    * held-out document — fn = tn = 0 at all three scale factors, recall
    * 1.0, precision = the base rate (0.74–0.76) — i.e. as a FILTER it
    * keeps everything. The score itself carries strong signal (held-out
    * means 15.4 vs 25.9 by label at sf0.1; the best single cut reaches
    * 93.3 % accuracy): every token's +1 vote piles onto every document,
    * so the informative MARGIN sits far above zero and the fixed
    * threshold never fires. The production fix is x90: calibrate the
    * cut on the TRAINING slice (argmax training accuracy, integer
    * cumulative counts, never touching the holdout) and re-measure —
    * this row stays as the uncalibrated baseline the calibration is
    * judged against. */
  def x86_classifier_confusion(s: SparkSession, dir: String): DataFrame = {
    val labeled = TextOps.qualityScore(Tables.documents(s, dir))
      .withColumn("label_pos", col("quality_score") >= QualityGate)
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    graft.ext.Classify.nbVoteConfusion(
      labeled.filter(inBase), labeled.filter(!inBase),
      "doc_id", "label_pos", "text")
  }


  /** Calibrated split classifier (x90) — x86's measured fix: the same
    * train/holdout split, but the decision cut is the training-slice
    * accuracy argmax (integer cumulative counts over the score
    * distribution; the holdout is never touched) instead of the naive
    * `> 0`. Output: the learned threshold + the holdout confusion at
    * that cut. Measured (round 11): threshold 20/18/19 and holdout
    * accuracy 0.884/0.907/0.933 (precision 0.95, recall 0.89-0.96) at
    * sf0.001/0.01/0.1 vs x86's 0.76/0.74/0.75 all-positive baseline — calibration is where the vote model's
    * signal (label-mean scores 15 vs 26) becomes a usable filter. See
    * [[graft.ext.Classify.nbVoteCalibrated]]. */
  def x90_classifier_calibrated(s: SparkSession, dir: String): DataFrame = {
    val labeled = TextOps.qualityScore(Tables.documents(s, dir))
      .withColumn("label_pos", col("quality_score") >= QualityGate)
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    graft.ext.Classify.nbVoteCalibrated(
      labeled.filter(inBase), labeled.filter(!inBase),
      "doc_id", "label_pos", "text")
  }


  /** LM-gate threshold: average per-bigram surprise, fixed-point ×16
    * (so 112 = 7.0 bits/bigram). Chosen from the measured held-out
    * distribution at sf0.01 so the flag is a real partition of the
    * corpus (both kept and dropped non-empty at every SF), pinned as a
    * constant the way a production pipeline freezes its CCNet decile
    * cut: the held-out medians sit at 79–80 ×16-bits across the three
    * SFs (ranges 76–86), so 80 keeps ~60–75 % and drops a real tail at
    * every scale. */
  val LmGateBitsX16 = 80L


  /** CCNet-style LM-perplexity gate (x108) — the classic curation stage
    * the surface lacked: a token-bigram LM trained on the x83 hash-split
    * base slice, every held-out doc scored by integer per-bigram
    * surprise ([[graft.ext.TextOps.bigramLmScores]]: halving-bucket
    * −log₂ p(w₂|w₁) with +1 smoothing and max-surprise prefix backoff,
    * all-integer output incl. the ×16 fixed-point average), gated at
    * [[LmGateBitsX16]]. */
  def x108_lm_perplexity_gate(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.bigramLmScores(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", BaseFrac)
      .select(col("id").as("doc_id"), col("n_bigrams"), col("nll_bits"),
        col("bits_x16"), (col("bits_x16") <= LmGateBitsX16).as("kept"))
      .orderBy(col("doc_id"))


  /** DSIR feature-bucket count — the hashing-trick model size (the
    * paper uses 10k for web-scale corpora; 1024 caps both multinomials
    * at broadcast size here while still forcing real collisions, which
    * is the point of hashed features). */
  val DsirBuckets = 1024


  /** DSIR acceptance threshold on the whole-doc log₂ importance weight
    * ([[graft.ext.TextOps.dsirWeights]]'s w_bits). Pinned from the
    * measured held-out distribution the way [[LmGateBitsX16]] was:
    * w_bits spans −4..+6 at sf0.001/0.01 and −2..+2 at sf0.1 (medians
    * 0), so 1 keeps the top quartile surely, thins the median class at
    * 1/2, and drives the tail to 2⁻³..2⁻⁵ — sure-keeps, thinned keeps,
    * and hash-rejected docs all non-empty at every SF. */
  val DsirThresholdBits = 1L


  /** DSIR-style importance resampling (x109) — the curation ladder's
    * missing published stage (heuristics x09 → classifier x83 → LM gate
    * x108 → importance RESAMPLING): hashed unigram+bigram features,
    * integer halving-bucket importance weights log₂(p̂_target/p̂_raw)
    * with the x09 quality gate as the target-corpus signal, and the
    * x21/x27 hash-threshold draw thinning the held-out pool with
    * probability ∝ the exponentiated weight (power-of-two grid). Both
    * models train on the [[BaseFrac]] hash slice only (x83's split
    * discipline); see [[graft.ext.TextOps.dsirWeights]] /
    * [[graft.ext.TextOps.dsirResample]] for the integerization and the
    * broadcast-model scale shape. */
  def x109_dsir_resample(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.dsirResample(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets,
      DsirThresholdBits)
      .select(col("id").as("doc_id"), col("n_feats"), col("w_bits"),
        col("w_x16"), col("shift"), col("accepted"))
      .orderBy(col("doc_id"))


  /** Top-k thinning budget as a fraction of the held-out pool — DYADIC
    * so ⌈n·frac⌉ is float-exact on both engines; 2⁻¹ lands the kept
    * count (65 of 129 at sf0.001) near the Bernoulli form's measured
    * 74, so the x112-vs-x112b lift comparison prices the SCHEDULE, not
    * a budget difference. */
  val DsirKeepFrac = 0.5


  /** DSIR top-k thinning (x109b) — the paper's without-replacement
    * schedule over the SAME integer weights as x109 (Gumbel top-k at
    * whole-bit granularity: strictly heavier docs always outrank
    * lighter; the u16 hash draw is the in-class tie-break). Exactly
    * ⌈[[DsirKeepFrac]]·n⌉ docs keep, decomposed scale-safely (bit-class
    * histogram offset + within-class rank — see
    * [[graft.ext.TextOps.dsirTopK]]). The oracle replays the selection
    * as one global rank window over the shared dsirCtes weights. */
  def x109b_dsir_topk(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.dsirTopK(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets, DsirKeepFrac)
      .select(col("id").as("doc_id"), col("n_feats"), col("w_bits"),
        col("draw"), col("accepted"))
      .orderBy(col("doc_id"))


  /** Enrichment audit of the top-k schedule (x112b) — x112's one-row
    * confusion discipline over x109b's partition; its lift vs x112's
    * adjudicates Bernoulli-vs-top-k thinning on the same weights with
    * a number (top-k keeps no low-weight doc by luck, so it should
    * concentrate target docs at least as hard). */
  def x112b_topk_enrichment(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.dsirTopKEnrichment(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets, DsirKeepFrac)


  /** Token-budget fill fraction — dyadic (2⁻²) so ⌈mass·frac⌉ is
    * float-exact on both engines; a quarter of the held-out pool's
    * token mass keeps the accepted/rejected partition non-degenerate
    * at every SF (the budget scales WITH the corpus). */
  val DsirTokenBudgetFrac = 0.25


  /** DSIR thinning under a TOKEN budget (x109c) — the budget a
    * training run actually has is token-denominated (x34's currency),
    * not doc-denominated: fill ⌈[[DsirTokenBudgetFrac]]·pool-mass⌉
    * greedily down x109b's importance order, keeping each doc iff the
    * inclusive running mass still fits (prefix-truncate, not a
    * knapsack — documented in [[graft.ext.TextOps.dsirTokenBudget]]
    * with the same scale-safe histogram-offset decomposition). The
    * oracle replays the selection as one global running-sum window
    * over the shared dsirCtes weights joined to the word counts. */
  def x109c_dsir_token_budget(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.dsirTokenBudget(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets,
      DsirTokenBudgetFrac)
      .select(col("id").as("doc_id"), col("n_feats"), col("w_bits"),
        col("draw"), col("n_tokens"), col("accepted"))
      .orderBy(col("doc_id"))


  /** Enrichment audit of the token-budget schedule (x112c) —
    * completing the trio: all three thinning denominators (Bernoulli
    * x109, doc-count top-k x109b, token budget x109c) now carry a
    * measured lift under the same one-row confusion discipline, CTE
    * tails shared so the numbers differ only by schedule. */
  def x112c_budget_enrichment(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.dsirTokenBudgetEnrichment(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets,
      DsirTokenBudgetFrac)


  /** Char-BPE training rounds — enough that merged symbols themselves
    * win later rounds (the recursion that makes BPE BPE), small enough
    * that the oracle's unrolled replay stays cheap. */
  val CharBpeRounds = 4


  /** Character-level BPE training (x110) — the published granularity
    * (Sennrich et al. 2016), closing x60's documented divergence:
    * merges between symbols WITHIN words (never across a boundary),
    * `</w>` end-of-word markers, pair statistics frequency-weighted
    * over the DISTINCT-WORD relation (the published trainer's own
    * working set — shuffles bound by |vocab|, not corpus occurrences).
    * x60 stays as the word-level twin feeding phrase mining; see
    * [[graft.ext.TextOps.bpeMergeLoopChars]]. The oracle unrolls the
    * same per-round algebra (weighted count → deterministic winner →
    * non-overlapping left-to-right apply) in SQL. */
  def x110_bpe_char_merges(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.bpeMergeLoopChars(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", CharBpeRounds)
      .orderBy(col("round"))

  /** Char-BPE tokenizer-apply (x111) — the encode half of x110's
    * train→apply, the char-granularity twin of x66: the distinct-word
    * vocabulary after [[CharBpeRounds]] merge rounds, one row per word
    * with its corpus frequency, symbol count and the md5 digest of the
    * space-joined symbol sequence (the x66 hash-friendly convention) —
    * the state a production tokenizer freezes and ships (raw text then
    * encodes via one |vocab|-sized broadcast join). The oracle is
    * x110's unrolled chain read at its FINAL seqs relation instead of
    * the merge rows — the same spelling proves trainer and tokenizer
    * agree, symbol for symbol (the digest covers order and content). */
  def x111_bpe_char_encode(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.bpeEncodeChars(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", CharBpeRounds)
      .select(col("word"), col("freq"),
        size(col("t")).cast(LongType).as("n_symbols"),
        md5(concat_ws(" ", col("t"))).as("seq_digest"))
      .orderBy(col("word"))

  /** The x110b stuffing word: four BMP codepoints from three scripts
    * (Greek, CJK, Cyrillic), with the Greek and Cyrillic letters
    * UPPERCASE (Α U+0391, Ц U+0426 — round-15 advice): both engines'
    * `lower()` must now actually FOLD non-ASCII letters (Α→α, Ц→ц)
    * before word extraction, pinning that Spark's Java full case
    * mapping and DuckDB's utf8proc simple mapping agree on the
    * one-to-one folds — the lowered word is αβ日ц, so the merge rows
    * (and the gate hash) are identical to the pre-advice lowercase
    * spelling, but a folding divergence would now break the hash
    * loudly. The condition-sensitive folds the engines genuinely
    * differ on (final sigma, dotted I) stay fenced out of gate
    * corpora — see TextOps.tokensUnicode's scaladoc. The lowered
    * word's four adjacent pairs (incl. the `</w>`
    * word-final one) weigh [[UnicodeStuffReps]]·⌈n/3⌉ each — measured
    * top ASCII pair is ≈9.3·n at every SF, the stuffing ≈13.3·n, so all
    * [[CharBpeRounds]] winners are provably the non-ASCII word's own
    * merge recursion, at a margin that scales WITH the corpus. */
  val UnicodeStuffWord = "Αβ日Ц"
  val UnicodeStuffReps = 40


  /** Char-BPE over a MULTILINGUAL corpus (x110b) — the round-14
    * verdict's #2 made a hashed fact: the old `[a-z0-9]` symbol class
    * silently dropped every non-ASCII codepoint from training (fatal on
    * the multilingual corpora DSIR/CCNet target — a wrong vocabulary
    * with no error). The registry corpus is pure ASCII, so the gate
    * synthesizes the condition inside the query
    * ([[graft.ext.TextOps.nonAsciiVariant]] — the x105 discipline) and
    * trains x110's loop over it: the merge table's rows are the
    * stuffing word's own recursion (α β → α_β 日 → α_β_日 ц →
    * α_β_日_ц </w>), each flagged `non_ascii` so the hashed VALUES prove
    * the symbols survived word extraction, pair counting, the fold, and
    * both engines' regexes. */
  def x110b_bpe_char_unicode(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.bpeMergeLoopChars(
      graft.ext.TextOps.nonAsciiVariant(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", UnicodeStuffWord, UnicodeStuffReps),
      "doc_id", "text", CharBpeRounds)
      .withColumn("non_ascii", col("pair").rlike("[^\\x00-\\x7f]"))
      .orderBy(col("round"))


  /** The x110c stuffing word: an ASTRAL-PLANE letter (𝛼 U+1D6FC,
    * MATHEMATICAL ITALIC SMALL ALPHA — category Ll, OUTSIDE the BMP,
    * UTF-8 f0 9d 9b bc) + BMP CJK + Cyrillic: nine UTF-8 bytes whose
    * adjacent pairs weigh [[ByteStuffReps]]·⌈n/3⌉ ≈ 13.3·n each vs the
    * measured ≈9.3·n top ASCII pair (byte pairs of ASCII words ARE
    * their codepoint pairs), so every [[CharBpeRounds]] winner is the
    * stuffed word's own byte-merge recursion — with the astral
    * letter's bytes provably inside the merge table, the condition the
    * codepoint form fences out of its gate corpora. */
  val ByteStuffWord = "𝛼日ц"
  val ByteStuffReps = 40


  /** x110c's round count — deeper than [[CharBpeRounds]] BY NEED: the
    * stuffed word's nine tied byte pairs merge in pair-asc order, and
    * the astral letter's interior pair "9b bc" (bytes unreachable from
    * ASCII or the BMP stuffing scripts) is reached at round 5; six
    * rounds put the astral-only bytes provably inside the hashed merge
    * table AND show the merged astral symbol itself winning a round
    * (9b_bc at round 6) — the recursion-on-astral-bytes proof. */
  val ByteBpeRounds = 6


  /** Byte-level BPE training over a multilingual corpus with an
    * ASTRAL-PLANE letter (x110c) — the round-15 verdict's #3: the
    * published production granularity (GPT-2: BPE over UTF-8 bytes, so
    * every string decomposes into a 256-symbol base alphabet and no
    * character can be OOV) and the constructive retirement of the
    * codepoint form's one documented divergence risk — bytes are
    * engine-neutral, there is no "what is a character" question left.
    * Same trainer algebra as x110/x110b ([[graft.ext.TextOps
    * .bpeMergeLoopBytes]]: frequency-weighted distinct-word relation,
    * deterministic 1-row winners, greedy fold), symbols spelled as
    * lowercase 2-hex-char units; the `high_byte` flag marks winners
    * containing a non-ASCII byte (≥ 0x80) so the hashed VALUES prove
    * astral bytes survived word extraction, hex split, pair counting
    * and the fold on both engines. */
  def x110c_bpe_byte_merges(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.bpeMergeLoopBytes(
      graft.ext.TextOps.nonAsciiVariant(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", ByteStuffWord, ByteStuffReps),
      "doc_id", "text", ByteBpeRounds)
      .withColumn("high_byte",
        col("pair").rlike("(^|[ _])[89a-f][0-9a-f]($|[ _])"))
      .orderBy(col("round"))


  /** Char-BPE apply on raw UNSEEN text (x113) — the round-14 verdict's
    * #1: x111 froze the vocabulary but no gate RAN it forward. This one
    * completes train→freeze→APPLY, the contract a production tokenizer
    * actually ships: the vocabulary trains on the [[BaseFrac]] hash
    * slice ONLY (x66/x83's split discipline), then encodes every
    * held-out document via one broadcast join against the frozen
    * word→symbols table, OOV words falling back to raw codepoints +
    * `</w>` ([[graft.ext.TextOps.bpeApplyVocab]]). The natural corpus's
    * generative vocabulary is small enough that the base slice covers
    * every held-out word (measured: zero OOV at sf0.001), so the
    * held-out side carries the [[graft.ext.TextOps.oovProbeVariant]]:
    * every third held-out doc gets one id-derived word that provably
    * cannot be in the base vocabulary — the fallback path FIRES, mixed
    * with zero-OOV docs. Output per held-out doc: word count, OOV count
    * (the coverage audit), token count, and the x66-convention sequence
    * digest. The oracle is
    * x110's unrolled chain trained on the same base slice, left-joined
    * to the held-out docs' positional word relation with the same
    * codepoint fallback — trainer, freezer and encoder proven to agree
    * symbol for symbol on text none of them trained on. */
  def x113_bpe_apply_unseen(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sampling
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    val vocab = graft.ext.TextOps.bpeEncodeChars(
      docs.filter(inBase), "doc_id", "text", CharBpeRounds)
    graft.ext.TextOps.bpeApplyVocab(
        graft.ext.TextOps.oovProbeVariant(docs.filter(!inBase), "doc_id", "text"),
        "doc_id", "text", vocab.select("word", "t"))
      .select(col("id").as("doc_id"), col("n_words"), col("n_oov_words"),
        col("n_tokens"), col("seq_digest"))
      .orderBy(col("doc_id"))
  }

  /** Context-window packing by LEARNED tokenizer counts (x114) — the
    * composition a pretraining pipeline actually runs, closed end to
    * end: curate → train char-BPE on the base slice → freeze → APPLY to
    * the held-out corpus (x113's chain, OOV probe included) → pack the
    * encoded documents into [[CtxLen]]-token context windows by their
    * REAL model-token counts (x44 packs by whitespace tokens — the
    * pre-tokenizer approximation; this is the number the loader
    * actually bills against the context). Same manifest algebra
    * ([[graft.ext.Packing.packManifest]]: hash-sharded streams, one
    * shard-partitioned cumulative-sum window), driven by x113's
    * n_tokens. The oracle composes x113's CTE chain with x44's packing
    * SQL — one spelling each, so the packed counts are provably the
    * gated encoder's. */
  def x114_bpe_pack_manifest(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Packing, Sampling}
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    val vocab = graft.ext.TextOps.bpeEncodeChars(
      docs.filter(inBase), "doc_id", "text", CharBpeRounds)
    val encoded = graft.ext.TextOps.bpeApplyVocab(
      graft.ext.TextOps.oovProbeVariant(docs.filter(!inBase), "doc_id", "text"),
      "doc_id", "text", vocab.select("word", "t"))
    Packing.packManifest(
        encoded.select(col("id").as("doc_id"), col("n_tokens")),
        "doc_id", col("n_tokens"), CtxLen)
      .orderBy(col("doc_id"))
  }

  /** The end-to-end pipeline gate (x115) — the composition a
    * pretraining run actually ships, closed as ONE oracle-gated query
    * (the round-15 verdict's #1): every stage was individually
    * hash-proven (x108 LM gate, x109c budget fill, x113 encoder, x114
    * packing) but the composition — where schedule and split
    * disciplines could silently interact — was not.
    *
    * corpus → x108 LM-perplexity gate (bigram LM trained on the
    * [[BaseFrac]] slice, held-out survivors at [[LmGateBitsX16]]) →
    * DSIR token-budget thinning over the SURVIVOR pool
    * ([[graft.ext.TextOps.dsirTokenBudgetWith]]) billed in the
    * LEARNED token counts of x113's frozen-vocab encoder (OOV probe
    * included — the shared gate corpus), budget =
    * ⌈[[DsirTokenBudgetFrac]] · gated-pool learned-token mass⌉ —
    * the number a training run actually spends, not the whitespace
    * approximation x109c uses — → x44's packing algebra over the kept
    * docs. Output = the packed manifest (x114's schema) of the
    * curated, thinned corpus: the artifact a loader consumes.
    *
    * Pool membership is inner-join semantics on both engines: held-out
    * docs with ≥2 whitespace tokens (LM-scoreable), LM-kept, with ≥1
    * DSIR feature and ≥1 extractable word. The oracle composes the
    * SHARED CTE chains — lmGateCtes + dsirCtes + bpeApplyCtes + x44's
    * packing tail, one spelling each — so every stage of the hashed
    * pipeline is provably the individually-gated one. */
  def x115_curate_pack(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Packing, Sampling}
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val inBase = Sampling.hashThresholdPredicate(col("doc_id"), BaseFrac)
    // stage 1 — LM perplexity gate (x108's chain, one spelling)
    val lmKept = graft.ext.TextOps
      .bigramLmScores(docs, "doc_id", "text", BaseFrac)
      .filter(col("bits_x16") <= LmGateBitsX16)
      .select(col("id"))
    // stage 2 — the frozen-vocab encoder (x113's chain, OOV probe incl.)
    val vocab = graft.ext.TextOps.bpeEncodeChars(
      docs.filter(inBase), "doc_id", "text", CharBpeRounds)
    val encoded = graft.ext.TextOps.bpeApplyVocab(
      graft.ext.TextOps.oovProbeVariant(docs.filter(!inBase), "doc_id", "text"),
      "doc_id", "text", vocab.select("word", "t"))
    // stage 3 — DSIR token-budget thinning billed in the LEARNED counts
    val thinned = graft.ext.TextOps.dsirTokenBudgetWith(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets,
      DsirTokenBudgetFrac, encoded.select(col("id"), col("n_tokens")),
      lmKept)
    // stage 4 — pack the kept docs (x44's manifest algebra)
    Packing.packManifest(
        thinned.filter(col("accepted"))
          .select(col("id").as("doc_id"), col("n_tokens")),
        "doc_id", col("n_tokens"), CtxLen)
      .orderBy(col("doc_id"))
  }

  /** DSIR enrichment audit (x112) — the measurement that makes x109 a
    * curation tool instead of a determinism demo (the x86 discipline,
    * applied to resampling): confront the accepted/rejected partition
    * of the held-out pool with the held-out docs' own quality labels
    * (which played no part in the weights). One row: exact integer
    * counts, single-divide rates, and the enrichment lift — the
    * measured answer to "did importance resampling concentrate
    * target-like documents?" (it does: lift > 1 at every SF). */
  def x112_dsir_enrichment(s: SparkSession, dir: String): DataFrame =
    graft.ext.TextOps.dsirEnrichment(
      TextOps.qualityScore(Tables.documents(s, dir))
        .withColumn("is_target", col("quality_score") >= QualityGate),
      "doc_id", "text", "is_target", BaseFrac, DsirBuckets,
      DsirThresholdBits)


  // ---- x53: leakage-safe cluster-aware train/val/test split ---------------

  /** Split assignment that respects the x20 duplicate clusters: every
    * near-dup family shares one split (drawn from its cluster label), so
    * no test document has a near-duplicate in train — the contamination
    * guarantee an id-hash split silently violates. Reuses the session's
    * shared CC fixpoint (minhashDupLabels), like x20/x23/x26/x36; the
    * oracle recomputes the same closure with the recursive CTE and the
    * same salted md5 draw. */
  def x53_cluster_split(s: SparkSession, dir: String): DataFrame =
    Sampling.clusterSplit(Tables.documents(s, dir), "doc_id",
        minhashDupLabels(s, dir), SplitTrainFrac, SplitValFrac, SplitSalt)
      .orderBy(col("doc_id"))

  protected def queriesQuality: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x08_text_stats" -> (x08_text_stats _),
    "x09_text_quality" -> (x09_text_quality _),
    "x10_text_langid" -> (x10_text_langid _),
    "x11_text_fingerprint" -> (x11_text_fingerprint _),
    "x18_text_rarity" -> (x18_text_rarity _),
    "x21_sample_hash" -> (x21_sample_hash _),
    "x21_sample_stratified" -> (x21_sample_stratified _),
    "x22_vocab_coverage" -> (x22_vocab_coverage _),
    "x24_repetition" -> (x24_repetition _),
    "x30_source_caps" -> (x30_source_caps _),
    "x31_chunks" -> (x31_chunks _),
    "x32_doc_keywords" -> (x32_doc_keywords _),
    "x26_pipeline_gate" -> (x26_pipeline_gate _),
    "x26b_corpus_build" -> (x26b_corpus_build _),
    "x27_source_mixture" -> (x27_source_mixture _),
    "x28_decontamination" -> (x28_decontamination _),
    "x34_token_budget" -> (x34_token_budget _),
    "x35_blocklist_scrub" -> (x35_blocklist_scrub _),
    "x39_heavy_hitters" -> (x39_heavy_hitters _),
    "x44_sequence_packing" -> (x44_sequence_packing _),
    "x45_decontamination_bloom" -> (x45_decontamination_bloom _),
    "x46_bigram_counts" -> (x46_bigram_counts _),
    "x48_source_equalize" -> (x48_source_equalize _),
    "x53_cluster_split" -> (x53_cluster_split _),
    "x60_bpe_merges" -> (x60_bpe_merges _),
    "x61_source_temperature" -> (x61_source_temperature _),
    "x66_bpe_encode" -> (x66_bpe_encode _),
    "x67_length_gate" -> (x67_length_gate _),
    "x80_quality_classifier" -> (x80_quality_classifier _),
    "x83_classifier_split" -> (x83_classifier_split _),
    "x86_classifier_confusion" -> (x86_classifier_confusion _),
    "x90_classifier_calibrated" -> (x90_classifier_calibrated _),
    "x108_lm_perplexity_gate" -> (x108_lm_perplexity_gate _),
    "x109_dsir_resample" -> (x109_dsir_resample _),
    "x110_bpe_char_merges" -> (x110_bpe_char_merges _),
    "x111_bpe_char_encode" -> (x111_bpe_char_encode _),
    "x112_dsir_enrichment" -> (x112_dsir_enrichment _),
    "x113_bpe_apply_unseen" -> (x113_bpe_apply_unseen _),
    "x110b_bpe_char_unicode" -> (x110b_bpe_char_unicode _),
    "x109b_dsir_topk" -> (x109b_dsir_topk _),
    "x112b_topk_enrichment" -> (x112b_topk_enrichment _),
    "x114_bpe_pack_manifest" -> (x114_bpe_pack_manifest _),
    "x109c_dsir_token_budget" -> (x109c_dsir_token_budget _),
    "x112c_budget_enrichment" -> (x112c_budget_enrichment _),
    "x115_curate_pack" -> (x115_curate_pack _),
    "x110c_bpe_byte_merges" -> (x110c_bpe_byte_merges _))

  /** Char-BPE's base relation, oracle side — the distinct-word table
    * with corpus frequencies and codepoint symbol sequences (+`</w>`),
    * ONE spelling shared by x110/x111/x110b/x113. `from` is the corpus
    * relation (documents, a stuffed variant, the base hash slice);
    * `\p{L}\p{N}` word classes and `.` codepoint split mirror
    * TextOps.tokensUnicode/codepoints (RE2 and Java regex agree on both
    * for BMP text — the gate corpora stay BMP-only). */
  private def charSeqs0Sql(from: String = "documents"): String =
    s"""w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS word
       |        FROM $from)
       |  GROUP BY 1),
       |seqs0 AS (
       |  SELECT word, freq,
       |         list_concat(regexp_extract_all(word, '.'), ['</w>']) AS t
       |  FROM w0)""".stripMargin

  /** Byte-level seqs0, oracle side (x110c): the same distinct-word
    * relation with symbols = the word's UTF-8 bytes as lowercase
    * 2-hex-char units — both engines hex-encode the identical bytes,
    * so the symbol split is engine-neutral by construction (mirrors
    * TextOps.utf8Bytes; DuckDB's hex(BLOB) and Spark's hex(BINARY)
    * agree after lower()). */
  private def byteSeqs0Sql(from: String = "documents"): String =
    s"""w0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS word
       |        FROM $from)
       |  GROUP BY 1),
       |seqs0 AS (
       |  SELECT word, freq,
       |         list_concat(regexp_extract_all(lower(hex(encode(word))), '..'), ['</w>']) AS t
       |  FROM w0)""".stripMargin

  /** The x113 apply chain, oracle side — train char-BPE on the base
    * hash slice, freeze the vocab, left-join the held-out docs'
    * positional word relation (OOV probe applied) with codepoint
    * fallback, and rebuild each doc's sequence in word order. Ends at
    * `sq` (doc_id, n_words, n_oov_words, t). ONE spelling shared by
    * x113 (digest read) and x114 (packing read). */
  private def bpeApplyCtes: String = {
    import graft.ext.Sampling
    s"""base AS (
       |  SELECT text FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}'),
       |${charSeqs0Sql(from = "base")},
       |${(1 to CharBpeRounds).map(r => bpeRoundSql(r, key = "word", weighted = true)).mkString(",\n")},
       |vocab AS (SELECT word, t FROM seqs$CharBpeRounds),
       |hd AS (
       |  -- held-out docs + the OOV probe (TextOps.oovProbeVariant): every
       |  -- third doc gets one id-derived word no base doc can contain
       |  SELECT doc_id,
       |         regexp_extract_all(lower(
       |           CASE WHEN ${u16Sql("'oov|' || CAST(doc_id AS VARCHAR)")} % 3 = 0
       |                THEN text || ' ov' || substr(md5('oovw|' || CAST(doc_id AS VARCHAR)), 1, 8)
       |                ELSE text END), '[\\p{L}\\p{N}]+') AS tw
       |  FROM documents
       |  WHERE NOT (substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}')),
       |hw AS (
       |  SELECT doc_id, p, tw[p] AS word
       |  FROM hd, unnest(range(1, len(tw) + 1)) AS u(p)),
       |js AS (
       |  SELECT h.doc_id, h.p, (v.word IS NULL) AS oov,
       |         COALESCE(v.t,
       |           list_concat(regexp_extract_all(h.word, '.'), ['</w>'])) AS syms
       |  FROM hw h LEFT JOIN vocab v USING (word)),
       |sq AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_words,
       |         flatten(list(syms ORDER BY p)) AS t
       |  FROM js GROUP BY 1)""".stripMargin
  }

  /** The DSIR chain (x109/x112), oracle side — features → bucket counts
    * → mass anchors → product-form λ → per-doc weights → shift → the
    * acceptance draw. `acc` carries (doc_id, n_feats, w_bits, w_x16,
    * shift, accepted); callers prefix [[qualityGateCte]]. ONE spelling
    * shared by the resample gate and the enrichment audit. */
  private def dsirCtes: String = {
    import graft.ext.Sampling
    s"""docc AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}' AS in_base,
       |         (quality_score >= $QualityGate) AS is_target,
       |         ${u16Sql("'dsirb|' || g")} % $DsirBuckets AS bucket
       |  FROM (SELECT q.doc_id, q.quality_score,
       |               unnest(list_concat(qt.t, list_transform(range(1, len(qt.t)),
       |                 i -> array_to_string(list_slice(qt.t, i, i + 1), ' ')))) AS g
       |        FROM qq q JOIN qtoks qt USING (doc_id))),
       |ctb AS MATERIALIZED (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS c_t
       |  FROM docc WHERE in_base AND is_target GROUP BY 1),
       |crb AS MATERIALIZED (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS c_r
       |  FROM docc WHERE in_base GROUP BY 1),
       |an AS (
       |  -- mass anchors + their overflow-guard normalization
       |  -- (TextOps.dsirLambda): shift each mass operand into [2^30, 2^31)
       |  -- and carry the shift; 0 at every gate scale
       |  SELECT n_t, n_r,
       |         greatest(0, length(bin(n_t + 1)) - 31) AS sn_t,
       |         greatest(0, length(bin(n_r + 1)) - 31) AS sn_r,
       |         (n_t + 1) >> sn_t AS m_t,
       |         (n_r + 1) >> sn_r AS m_r
       |  FROM (SELECT (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) FROM ctb) AS n_t,
       |               (SELECT CAST(COALESCE(SUM(c_r), 0) AS BIGINT) FROM crb) AS n_r)),
       |sc AS (
       |  SELECT o.id,
       |         COALESCE(ct.c_t, 0) + 1 AS at,
       |         COALESCE(cr.c_r, 0) + 1 AS ar,
       |         greatest(0, length(bin(at)) - 31) AS sat,
       |         greatest(0, length(bin(ar)) - 31) AS sar,
       |         ((length(bin((at >> sat) * a.m_r)) - 1) + sat + a.sn_r)
       |         - ((length(bin((ar >> sar) * a.m_t)) - 1) + sar + a.sn_t) AS lam
       |  FROM docc o LEFT JOIN ctb ct USING (bucket)
       |       LEFT JOIN crb cr USING (bucket), an a
       |  WHERE NOT o.in_base),
       |pw AS (
       |  SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |         CAST(SUM(lam) AS BIGINT) AS w_bits
       |  FROM sc GROUP BY 1),
       |ws AS (
       |  SELECT doc_id, n_feats, w_bits,
       |         (16 * w_bits + 2048 * n_feats) // n_feats - 2048 AS w_x16
       |  FROM pw),
       |wk AS (
       |  SELECT *, CAST(least(16, greatest(0, $DsirThresholdBits - w_bits)) AS BIGINT) AS shift
       |  FROM ws),
       |acc AS (
       |  SELECT doc_id, n_feats, w_bits, w_x16, shift,
       |         ${u16Sql("'dsirk|' || CAST(doc_id AS VARCHAR)")} < 65536 // (CAST(1 AS BIGINT) << shift) AS accepted
       |  FROM wk)""".stripMargin
  }

  /** The x108 bigram-LM gate chain, oracle side — base-slice bigram
    * counts (the x83 hash split), halving-bucket conditional surprise
    * with +1 smoothing and max-surprise prefix backoff, integer sums,
    * ×16 fixed-point average, and the kept verdict at
    * [[LmGateBitsX16]]. Ends at `lmk` (doc_id, n_bigrams, nll_bits,
    * bits_x16, kept). CTE names are lm-prefixed so the chain composes
    * with dsirCtes + bpeApplyCtes in x115 without collision; the
    * standalone x108 oracle reads this same builder — ONE spelling, so
    * the pipeline's gate stage is provably the gated x108. */
  private def lmGateCtes: String = {
    import graft.ext.Sampling
    s"""lmocc AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}' AS in_base,
       |         unnest(list_transform(range(1, len(t)),
       |           i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS bg
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |        FROM documents)),
       |lmc12 AS MATERIALIZED (
       |  SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM lmocc WHERE in_base GROUP BY 1),
       |lmc1 AS MATERIALIZED (
       |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
       |  FROM lmc12 GROUP BY 1),
       |lmnm AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_mass FROM lmc12),
       |lmsc AS (
       |  SELECT o.id,
       |         CASE WHEN c1.c1 IS NULL THEN length(bin(n.n_mass + 1)) - 1
       |              ELSE (length(bin(c1.c1 + 1)) - 1)
       |                   - (length(bin(COALESCE(c12.c12, 0) + 1)) - 1) END AS bits
       |  FROM lmocc o LEFT JOIN lmc12 c12 USING (bg)
       |       LEFT JOIN lmc1 c1 ON c1.w1 = split_part(o.bg, ' ', 1), lmnm n
       |  WHERE NOT o.in_base),
       |lmk AS (
       |  SELECT id AS doc_id,
       |         CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(SUM(bits) AS BIGINT) AS nll_bits,
       |         (16 * CAST(SUM(bits) AS BIGINT)) // CAST(count(*) AS BIGINT) AS bits_x16,
       |         (16 * CAST(SUM(bits) AS BIGINT)) // CAST(count(*) AS BIGINT) <= $LmGateBitsX16 AS kept
       |  FROM lmsc GROUP BY 1)""".stripMargin
  }

  protected def oracleSqlQuality: Map[String, String] = Map(

    "x08_text_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
        |       CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS total_token_chars,
        |       CASE WHEN len(t) > 0
        |            THEN CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |            ELSE 0.0 END AS type_token_ratio,
        |       CASE WHEN len(t) > 0
        |            THEN CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |            ELSE 0.0 END AS avg_token_len
        |FROM toks ORDER BY doc_id""".stripMargin,


    "x09_text_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(text) AS BIGINT) AS n_chars,
        |         CAST(len(t) AS BIGINT) AS n_tokens,
        |         CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
        |         CAST(len(list_filter(t, x -> x IN ('the','a','an','and','of','to','in','is','it','for'))) AS BIGINT) AS stopword_count
        |  FROM toks),
        |r AS (
        |  SELECT *,
        |         CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
        |         CASE WHEN n_tokens > 0 THEN CAST(stopword_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio
        |  FROM m)
        |SELECT doc_id, n_chars, n_tokens, punct_chars, stopword_count,
        |       punct_ratio, stopword_ratio,
        |       ROUND(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
        |             * (1.0 - punct_ratio)
        |             * least(stopword_ratio * 5.0 + 0.5, 1.0), 6) AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin,


    "x10_text_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS BIGINT) AS s_en,
        |         CAST(len(list_filter(t, x -> x IN ('der','die','und','ist','das'))) AS BIGINT) AS s_de,
        |         CAST(len(list_filter(t, x -> x IN ('el','los','que','y','las'))) AS BIGINT) AS s_es,
        |         CAST(len(list_filter(t, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS s_fr,
        |         CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
        |  FROM toks),
        |pred AS (
        |  SELECT lang,
        |         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |              WHEN s_fr >= s_zh THEN 'fr'
        |              ELSE 'zh' END AS predicted_lang
        |  FROM scored)
        |SELECT lang, predicted_lang, count(*) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin,


    "x11_text_fingerprint" ->
      s"""WITH $shinglesCte
         |SELECT doc_id, list_min(list_transform(sh, s -> md5(s))) AS fingerprint
         |FROM sh ORDER BY doc_id""".stripMargin,


    // Hash-threshold sampling: md5 hex is lowercase in both engines, and
    // lexicographic comparison of fixed-width hex == numeric comparison.
    // Both the fraction and the 8-hex-char cut are INTERPOLATED from
    // SampleFrac (via Sampling.hashCut) so changing the constant cannot
    // silently break Spark/oracle parity.
    "x21_sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.hashCut(SampleFrac)}'
         |ORDER BY doc_id""".stripMargin,


    "x21_sample_stratified" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |         CAST(row_number() OVER (
         |           PARTITION BY lang
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk,
         |         count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents)
         |SELECT doc_id, lang, rnk FROM r
         |WHERE rnk <= ceil(n * $SampleFrac)
         |ORDER BY lang, rnk""".stripMargin,


    // Repetition metrics: bigrams via zip of the token list with its own
    // tail (same strings Spark's in-row HOF builds), token mode via
    // (doc, tok) aggregate.
    "x24_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |inrow AS (
        |  SELECT doc_id,
        |         CAST(len(t) AS BIGINT) AS n_tokens,
        |         list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
        |                        s -> s[1] || ' ' || s[2]) AS bg
        |  FROM toks),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(len(bg) AS BIGINT) AS n_bigrams,
        |         CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams
        |  FROM inrow),
        |occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM occ GROUP BY 1, 2),
        |top AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_token_n
        |        FROM cnt GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |       coalesce(top.top_token_n, 0) AS top_token_n,
        |       b.n_bigrams, b.n_distinct_bigrams,
        |       CASE WHEN b.n_tokens > 0
        |            THEN CAST(coalesce(top.top_token_n, 0) AS DOUBLE)
        |                   / CAST(b.n_tokens AS DOUBLE)
        |            ELSE 0.0 END AS top_token_frac,
        |       CASE WHEN b.n_bigrams > 0
        |            THEN CAST(b.n_bigrams - b.n_distinct_bigrams AS DOUBLE)
        |                   / CAST(b.n_bigrams AS DOUBLE)
        |            ELSE 0.0 END AS dup_bigram_frac
        |FROM b LEFT JOIN top ON b.doc_id = top.doc_id
        |ORDER BY b.doc_id""".stripMargin,


    // Per-source caps: the x09 quality formula (same CTE chain, same
    // ROUND(…,6)) carried alongside `source`, then a per-source
    // row_number capped at SourceCap. Stopwords interpolated from the
    // one TextOps lexicon.
    "x30_source_caps" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, text,
         |         regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, source,
         |         CAST(len(text) AS BIGINT) AS n_chars,
         |         CAST(len(t) AS BIGINT) AS n_tokens,
         |         CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
         |         CAST(len(list_filter(t, x -> x IN (${TextOps.EnglishStopwords.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS stopword_count
         |  FROM toks),
         |r AS (
         |  SELECT doc_id, source,
         |         CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_tokens > 0 THEN CAST(stopword_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
         |         n_tokens
         |  FROM m),
         |q AS (
         |  SELECT doc_id, source,
         |         ROUND(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
         |               * (1.0 - punct_ratio)
         |               * least(stopword_ratio * 5.0 + 0.5, 1.0), 6) AS quality_score
         |  FROM r),
         |k AS (
         |  SELECT source, doc_id, quality_score,
         |         CAST(row_number() OVER (PARTITION BY source
         |                ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rnk
         |  FROM q)
         |SELECT source, rnk, doc_id, quality_score FROM k
         |WHERE rnk <= $SourceCap
         |ORDER BY source, rnk""".stripMargin,


    // Token-budget selection: the x09/x30 quality formula, bucketed to
    // QualityBuckets bins, best-bin-first cumulative token sums, bins
    // kept while the budget is unmet (the crossing bin included).
    "x34_token_budget" ->
      s"""WITH toks AS (
         |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(text) AS BIGINT) AS n_chars,
         |         CAST(len(t) AS BIGINT) AS n_tokens,
         |         CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
         |         CAST(len(list_filter(t, x -> x IN (${TextOps.EnglishStopwords.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS stopword_count
         |  FROM toks),
         |r AS (
         |  SELECT doc_id, n_tokens,
         |         CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_tokens > 0 THEN CAST(stopword_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio
         |  FROM m),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |         ROUND(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
         |               * (1.0 - punct_ratio)
         |               * least(stopword_ratio * 5.0 + 0.5, 1.0), 6) AS quality_score
         |  FROM r),
         |b AS (
         |  SELECT least(CAST(floor(quality_score * $QualityBuckets) AS BIGINT), $QualityBuckets) AS bucket,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
         |  FROM q GROUP BY 1),
         |c AS (
         |  SELECT bucket, n_docs, bucket_tokens,
         |         CAST(sum(bucket_tokens) OVER (ORDER BY bucket DESC
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM b)
         |SELECT bucket, n_docs, bucket_tokens, cum_tokens FROM c
         |WHERE cum_tokens - bucket_tokens < $TokenBudget
         |ORDER BY bucket DESC""".stripMargin,


    // Compliance scrub: the pattern and mask are interpolated from the
    // SAME constants as the Spark side (TextOps.scrubPattern sorts the
    // terms, so the alternation is one spelling). '\b' is literal in a
    // standard single-quoted DuckDB string; RE2 and Java regex agree on
    // this word-boundary-plus-alternation subset. 'g' = replace all,
    // matching Spark's regexp_replace default.
    "x35_blocklist_scrub" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |         regexp_extract_all(text, '${TextOps.scrubPattern(ScrubTerms)}') AS hits,
         |         regexp_replace(text, '${TextOps.scrubPattern(ScrubTerms)}', '$ScrubMask', 'g') AS scrubbed
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(hits) AS BIGINT) AS n_hits,
         |       CAST(len(scrubbed) AS BIGINT) AS n_chars_scrubbed,
         |       sha256(scrubbed) AS scrubbed_digest
         |FROM s ORDER BY doc_id""".stripMargin,


    // x44: same md5-prefix shard key and doc_id stream order as
    // Packing.packManifest; `//` is DuckDB's exact integer division
    // (mirrors Spark's `div`).
    "x44_sequence_packing" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, shard, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
         |  FROM m WHERE n_tokens > 0)
         |SELECT doc_id, shard, n_tokens,
         |       cum_end - n_tokens AS start_offset,
         |       (cum_end - n_tokens) // $CtxLen AS pack_first,
         |       (cum_end - n_tokens) % $CtxLen AS offset_in_pack,
         |       (cum_end - 1) // $CtxLen - (cum_end - n_tokens) // $CtxLen + 1 AS packs_spanned
         |FROM p
         |ORDER BY doc_id""".stripMargin,


    // x46: DuckDB's 1-based list indexing over range(1, len) pairs t[i]
    // with t[i+1] — the same adjacency zip as Spark's slice/zip_with.
    "x46_bigram_counts" ->
      s"""WITH toks AS (
         |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |pairs AS (
         |  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS pair
         |  FROM toks, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2)
         |SELECT pair, count(*) AS n
         |FROM pairs GROUP BY pair
         |ORDER BY n DESC, pair
         |LIMIT $BpeTopPairs""".stripMargin,


    // x48: the accept test mirrors Spark's conv(hex,16,10) via DuckDB's
    // '0x…' cast — both unsigned 16-bit, so the integer comparison is
    // bit-identical; summary rows only (the manifest is the filter).
    "x48_source_equalize" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        |      FROM t GROUP BY source),
        |m AS (SELECT MIN(src_tokens) AS min_tokens FROM s),
        |kept AS (
        |  SELECT t.source, s.src_tokens, m.min_tokens, t.n_tokens
        |  FROM t JOIN s USING (source), m
        |  WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |          * s.src_tokens
        |        < 65536 * m.min_tokens)
        |SELECT source, src_tokens, min_tokens,
        |       count(*) AS kept_docs, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
        |FROM kept
        |GROUP BY source, src_tokens, min_tokens
        |ORDER BY source""".stripMargin,


    // x61: x48's accept test squared into rational-τ form (τ = 1/2):
    // u16²·src < 2³²·min in HUGEINT (Spark: DECIMAL(38,0)) — exact
    // integer compare, the sqrt never evaluated in either engine.
    "x61_source_temperature" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        |      FROM t GROUP BY source),
        |m AS (SELECT MIN(src_tokens) AS min_tokens FROM s),
        |kept AS (
        |  SELECT t.source, s.src_tokens, m.min_tokens, t.n_tokens
        |  FROM t JOIN s USING (source), m
        |  WHERE CAST(CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS HUGEINT)
        |          * CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |          * s.src_tokens
        |        < CAST(4294967296 AS HUGEINT) * m.min_tokens)
        |SELECT source, src_tokens, min_tokens,
        |       count(*) AS kept_docs, CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
        |FROM kept
        |GROUP BY source, src_tokens, min_tokens
        |ORDER BY source""".stripMargin,


    // x66: x60's unrolled CTE chain, digesting the final sequences;
    // <2-token docs (excluded from seqs0) pass through unchanged.
    "x66_bpe_encode" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |seqs0 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
         |${(1 to BpeRounds).map(r => bpeRoundSql(r)).mkString(",\n")},
         |enc AS (
         |  SELECT doc_id, t FROM seqs$BpeRounds
         |  UNION ALL
         |  SELECT doc_id, t FROM toks WHERE len(t) < 2)
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(t, ' ')) AS seq_digest
         |FROM enc ORDER BY doc_id""".stripMargin,


    // x67: the same exact-rank gate, replayed row for row; floor/ceil on
    // identically-computed doubles of integer products — engine-identical.
    "x67_length_gate" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_docs_src FROM t GROUP BY source),
        |r AS (
        |  SELECT t.doc_id, t.source, t.n_tokens, c.n_docs_src,
        |         CAST(row_number() OVER (PARTITION BY t.source ORDER BY t.n_tokens, t.doc_id) AS BIGINT) AS rnk,
        |         CAST(floor(CAST(c.n_docs_src AS DOUBLE) * 0.05) AS BIGINT) AS lo,
        |         CAST(ceil(CAST(c.n_docs_src AS DOUBLE) * 0.95) AS BIGINT) AS hi
        |  FROM t JOIN c USING (source))
        |SELECT source, n_docs_src, count(*) AS kept_docs,
        |       MIN(n_tokens) AS min_kept_tokens, MAX(n_tokens) AS max_kept_tokens,
        |       CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
        |FROM r WHERE rnk > lo AND rnk <= hi
        |GROUP BY source, n_docs_src
        |ORDER BY source""".stripMargin,


    // x108: the bigram-LM perplexity gate — base-slice counts (the x83
    // hash split), halving-bucket conditional surprise with +1 smoothing
    // and max-surprise prefix backoff, integer sums, ×16 fixed-point
    // average via integer division. The chain lives in lmGateCtes (one
    // spelling, shared with x115's pipeline composition).
    "x108_lm_perplexity_gate" ->
      s"""WITH $lmGateCtes
         |SELECT doc_id, n_bigrams, nll_bits, bits_x16, kept
         |FROM lmk ORDER BY doc_id""".stripMargin,


    // x109: DSIR importance resampling — hashed unigram+bigram feature
    // buckets, target/raw multinomials counted on the base slice (target
    // = the x09 quality gate), halving-bucket integer log-importance per
    // occurrence, offset-safe ×16 length normalization, and the
    // hash-threshold power-of-two acceptance draw. CTE chain shared
    // verbatim with x112's enrichment audit (dsirCtes — one spelling,
    // so the audited resample is provably the gated one).
    "x109_dsir_resample" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes
         |SELECT doc_id, n_feats, w_bits, w_x16, shift, accepted
         |FROM acc ORDER BY doc_id""".stripMargin,

    // x112: the enrichment audit — x109's accepted/rejected partition
    // confronted with the held-out docs' own target labels (x86's
    // confusion discipline applied to resampling): integer cells, one
    // IEEE divide per rate, lift from exact integer products.
    "x112_dsir_enrichment" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes,
         |lab AS (SELECT doc_id, (quality_score >= $QualityGate) AS is_target FROM qq),
         |cells AS (
         |  SELECT CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |         CAST(SUM(CASE WHEN NOT accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |         CAST(SUM(CASE WHEN accepted AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS kept_target,
         |         CAST(SUM(CASE WHEN NOT accepted AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS dropped_target
         |  FROM acc JOIN lab USING (doc_id))
         |SELECT *,
         |       CASE WHEN n_kept = 0 THEN NULL
         |            ELSE CAST(kept_target AS DOUBLE) / CAST(n_kept AS DOUBLE) END AS kept_target_rate,
         |       CASE WHEN n_dropped = 0 THEN NULL
         |            ELSE CAST(dropped_target AS DOUBLE) / CAST(n_dropped AS DOUBLE) END AS dropped_target_rate,
         |       -- rate-ratio lift (round-15 advice): the integer-product
         |       -- form wraps i64 at 100 TB cell counts; lateral alias
         |       -- reuse of the two NULL-safe rates, ratio = one more
         |       -- IEEE divide, identical in Spark (enrichmentCells)
         |       CASE WHEN dropped_target_rate = 0 THEN NULL
         |            ELSE kept_target_rate / dropped_target_rate END AS lift
         |FROM cells""".stripMargin,

    // x109b: the top-k schedule — the same dsirCtes weights, selection
    // replayed as ONE global rank window (w_bits DESC, u16 draw, id)
    // under the dyadic ceil budget; the Spark side's histogram-offset
    // decomposition is provably the same ordering.
    "x109b_dsir_topk" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes,
         |g AS (
         |  SELECT doc_id, n_feats, w_bits,
         |         ${u16Sql("'dsirg|' || CAST(doc_id AS VARCHAR)")} AS draw
         |  FROM ws),
         |r AS (
         |  SELECT *,
         |         CAST(row_number() OVER (ORDER BY w_bits DESC, draw, doc_id) AS BIGINT) AS rnk,
         |         CAST(count(*) OVER () AS BIGINT) AS n_pool
         |  FROM g)
         |SELECT doc_id, n_feats, w_bits, draw,
         |       rnk <= CAST(ceil(n_pool * $DsirKeepFrac) AS BIGINT) AS accepted
         |FROM r ORDER BY doc_id""".stripMargin,

    // x109c: the token-budget fill — the same dsirCtes weights joined
    // to word counts, selection replayed as ONE global inclusive
    // running-sum window down the importance order under the dyadic
    // ceil budget; the Spark side's histogram-offset decomposition is
    // provably the same prefix.
    "x109c_dsir_token_budget" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes,
         |tk AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT ws.doc_id, ws.n_feats, ws.w_bits, tk.n_tokens,
         |         ${u16Sql("'dsirg|' || CAST(ws.doc_id AS VARCHAR)")} AS draw
         |  FROM ws JOIN tk USING (doc_id)),
         |r AS (
         |  SELECT *,
         |         CAST(SUM(n_tokens) OVER (ORDER BY w_bits DESC, draw, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_incl,
         |         CAST(SUM(n_tokens) OVER () AS BIGINT) AS pool_mass
         |  FROM g)
         |SELECT doc_id, n_feats, w_bits, draw, n_tokens,
         |       cum_incl <= CAST(ceil(pool_mass * $DsirTokenBudgetFrac) AS BIGINT) AS accepted
         |FROM r ORDER BY doc_id""".stripMargin,

    // x112c: the audit cells over the token-budget partition — the
    // x109c selection CTEs + the shared cells tail, so the three lifts
    // (x112/x112b/x112c) differ only by thinning schedule.
    "x112c_budget_enrichment" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes,
         |tk AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT ws.doc_id, tk.n_tokens, ws.w_bits,
         |         ${u16Sql("'dsirg|' || CAST(ws.doc_id AS VARCHAR)")} AS draw
         |  FROM ws JOIN tk USING (doc_id)),
         |r AS (
         |  SELECT doc_id,
         |         CAST(SUM(n_tokens) OVER (ORDER BY w_bits DESC, draw, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_incl,
         |         CAST(SUM(n_tokens) OVER () AS BIGINT) AS pool_mass
         |  FROM g),
         |sel AS (
         |  SELECT doc_id,
         |         cum_incl <= CAST(ceil(pool_mass * $DsirTokenBudgetFrac) AS BIGINT) AS accepted
         |  FROM r),
         |lab AS (SELECT doc_id, (quality_score >= $QualityGate) AS is_target FROM qq),
         |cells AS (
         |  SELECT CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |         CAST(SUM(CASE WHEN NOT accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |         CAST(SUM(CASE WHEN accepted AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS kept_target,
         |         CAST(SUM(CASE WHEN NOT accepted AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS dropped_target
         |  FROM sel JOIN lab USING (doc_id))
         |SELECT *,
         |       CASE WHEN n_kept = 0 THEN NULL
         |            ELSE CAST(kept_target AS DOUBLE) / CAST(n_kept AS DOUBLE) END AS kept_target_rate,
         |       CASE WHEN n_dropped = 0 THEN NULL
         |            ELSE CAST(dropped_target AS DOUBLE) / CAST(n_dropped AS DOUBLE) END AS dropped_target_rate,
         |       -- rate-ratio lift (round-15 advice): the integer-product
         |       -- form wraps i64 at 100 TB cell counts; lateral alias
         |       -- reuse of the two NULL-safe rates, ratio = one more
         |       -- IEEE divide, identical in Spark (enrichmentCells)
         |       CASE WHEN dropped_target_rate = 0 THEN NULL
         |            ELSE kept_target_rate / dropped_target_rate END AS lift
         |FROM cells""".stripMargin,

    // x112b: x112's audit cells over the top-k partition — the CTE tail
    // is shared verbatim with x112 so the two lifts differ only by the
    // thinning schedule.
    "x112b_topk_enrichment" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes,
         |g AS (
         |  SELECT doc_id,
         |         ${u16Sql("'dsirg|' || CAST(doc_id AS VARCHAR)")} AS draw,
         |         w_bits
         |  FROM ws),
         |r AS (
         |  SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY w_bits DESC, draw, doc_id) AS BIGINT) AS rnk,
         |         CAST(count(*) OVER () AS BIGINT) AS n_pool
         |  FROM g),
         |sel AS (
         |  SELECT doc_id,
         |         rnk <= CAST(ceil(n_pool * $DsirKeepFrac) AS BIGINT) AS accepted
         |  FROM r),
         |lab AS (SELECT doc_id, (quality_score >= $QualityGate) AS is_target FROM qq),
         |cells AS (
         |  SELECT CAST(SUM(CASE WHEN accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |         CAST(SUM(CASE WHEN NOT accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |         CAST(SUM(CASE WHEN accepted AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS kept_target,
         |         CAST(SUM(CASE WHEN NOT accepted AND is_target THEN 1 ELSE 0 END) AS BIGINT) AS dropped_target
         |  FROM sel JOIN lab USING (doc_id))
         |SELECT *,
         |       CASE WHEN n_kept = 0 THEN NULL
         |            ELSE CAST(kept_target AS DOUBLE) / CAST(n_kept AS DOUBLE) END AS kept_target_rate,
         |       CASE WHEN n_dropped = 0 THEN NULL
         |            ELSE CAST(dropped_target AS DOUBLE) / CAST(n_dropped AS DOUBLE) END AS dropped_target_rate,
         |       -- rate-ratio lift (round-15 advice): the integer-product
         |       -- form wraps i64 at 100 TB cell counts; lateral alias
         |       -- reuse of the two NULL-safe rates, ratio = one more
         |       -- IEEE divide, identical in Spark (enrichmentCells)
         |       CASE WHEN dropped_target_rate = 0 THEN NULL
         |            ELSE kept_target_rate / dropped_target_rate END AS lift
         |FROM cells""".stripMargin,


    // x110: char-level BPE — the x60 round algebra re-keyed to the
    // distinct-word relation with frequency-weighted pair counts and
    // </w> end-of-word markers (bpeRoundSql's weighted form).
    "x110_bpe_char_merges" ->
      s"""WITH ${charSeqs0Sql()},
         |${(1 to CharBpeRounds).map(r => bpeRoundSql(r, key = "word", weighted = true)).mkString(",\n")}
         |SELECT round, pair, n, n_tokens_after
         |FROM (${(1 to CharBpeRounds).map(r => s"SELECT * FROM row$r").mkString(" UNION ALL ")})
         |ORDER BY round""".stripMargin,

    // x110b: the same chain over the non-ASCII stuffed variant
    // (TextOps.nonAsciiVariant — every third doc appends the
    // three-script stuffing phrase), winners flagged non_ascii so the
    // hashed values prove multilingual symbols survive both engines'
    // word extraction, codepoint split, and merge fold.
    "x110b_bpe_char_unicode" -> {
      val phrase = Seq.fill(UnicodeStuffReps)(UnicodeStuffWord).mkString(" ")
      s"""WITH uvar AS (
         |  SELECT CASE WHEN ${u16Sql("'ub|' || CAST(doc_id AS VARCHAR)")} % 3 = 0
         |              THEN text || ' $phrase'
         |              ELSE text END AS text
         |  FROM documents),
         |${charSeqs0Sql(from = "uvar")},
         |${(1 to CharBpeRounds).map(r => bpeRoundSql(r, key = "word", weighted = true)).mkString(",\n")}
         |SELECT round, pair, n, n_tokens_after,
         |       regexp_matches(pair, '[^\\x00-\\x7f]') AS non_ascii
         |FROM (${(1 to CharBpeRounds).map(r => s"SELECT * FROM row$r").mkString(" UNION ALL ")})
         |ORDER BY round""".stripMargin
    },

    // x110c: the byte-level chain over the astral-stuffed variant —
    // byteSeqs0Sql's engine-neutral hex-byte symbols through the same
    // unrolled round algebra; high_byte flags winners carrying a
    // >= 0x80 byte so the hashed values prove the astral letter's
    // bytes are in the merge table.
    "x110c_bpe_byte_merges" -> {
      val phrase = Seq.fill(ByteStuffReps)(ByteStuffWord).mkString(" ")
      s"""WITH uvar AS (
         |  SELECT CASE WHEN ${u16Sql("'ub|' || CAST(doc_id AS VARCHAR)")} % 3 = 0
         |              THEN text || ' $phrase'
         |              ELSE text END AS text
         |  FROM documents),
         |${byteSeqs0Sql(from = "uvar")},
         |${(1 to ByteBpeRounds).map(r => bpeRoundSql(r, key = "word", weighted = true)).mkString(",\n")}
         |SELECT round, pair, n, n_tokens_after,
         |       regexp_matches(pair, '(^|[ _])[89a-f][0-9a-f]($$|[ _])') AS high_byte
         |FROM (${(1 to ByteBpeRounds).map(r => s"SELECT * FROM row$r").mkString(" UNION ALL ")})
         |ORDER BY round""".stripMargin
    },

    // x111: the encode half — the SAME unrolled chain as x110, read at
    // its final seqs relation (the trained vocabulary's symbol
    // sequences) instead of the per-round merge rows.
    "x111_bpe_char_encode" ->
      s"""WITH ${charSeqs0Sql()},
         |${(1 to CharBpeRounds).map(r => bpeRoundSql(r, key = "word", weighted = true)).mkString(",\n")}
         |SELECT word, freq,
         |       CAST(len(t) AS BIGINT) AS n_symbols,
         |       md5(array_to_string(t, ' ')) AS seq_digest
         |FROM seqs$CharBpeRounds
         |ORDER BY word""".stripMargin,

    // x113: the frozen vocabulary RUN FORWARD on unseen text — the x110
    // chain trained on the base hash slice only, its final seqs relation
    // read as the vocab, left-joined to the held-out docs' positional
    // word relation; OOV words (no vocab row) fall back to raw
    // codepoints + </w>, and each doc's sequence is rebuilt in word
    // order before the digest. CTE chain shared verbatim with x114
    // (bpeApplyCtes), so the packed counts are provably this encoder's.
    "x113_bpe_apply_unseen" ->
      s"""WITH $bpeApplyCtes
         |SELECT doc_id, n_words, n_oov_words,
         |       CAST(len(t) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(t, ' ')) AS seq_digest
         |FROM sq ORDER BY doc_id""".stripMargin,

    // x114: x113's encoder composed into x44's packing algebra — the
    // manifest billed in LEARNED tokenizer counts (len(t) of the
    // encoded sequence), not whitespace tokens.
    "x114_bpe_pack_manifest" ->
      s"""WITH $bpeApplyCtes,
         |m AS (
         |  SELECT doc_id,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         |         CAST(len(t) AS BIGINT) AS n_tokens
         |  FROM sq),
         |p AS (
         |  SELECT doc_id, shard, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
         |  FROM m WHERE n_tokens > 0)
         |SELECT doc_id, shard, n_tokens,
         |       cum_end - n_tokens AS start_offset,
         |       (cum_end - n_tokens) // $CtxLen AS pack_first,
         |       (cum_end - n_tokens) % $CtxLen AS offset_in_pack,
         |       (cum_end - 1) // $CtxLen - (cum_end - n_tokens) // $CtxLen + 1 AS packs_spanned
         |FROM p
         |ORDER BY doc_id""".stripMargin,

    // x115: the end-to-end pipeline — the three individually-gated
    // chains composed verbatim (lmGateCtes -> the x108 gate verdict,
    // dsirCtes -> the importance weights, bpeApplyCtes -> the learned
    // token counts), the budget fill replayed as ONE global running-sum
    // window over the LM-SURVIVOR pool in LEARNED token currency, and
    // x44's packing tail over the kept docs.
    "x115_curate_pack" ->
      s"""WITH $qualityGateCte,
         |$dsirCtes,
         |$lmGateCtes,
         |$bpeApplyCtes,
         |xg AS (
         |  SELECT ws.doc_id, ws.w_bits,
         |         CAST(len(sq.t) AS BIGINT) AS n_tokens,
         |         ${u16Sql("'dsirg|' || CAST(ws.doc_id AS VARCHAR)")} AS draw
         |  FROM ws JOIN sq USING (doc_id) JOIN lmk USING (doc_id)
         |  WHERE lmk.kept),
         |xr AS (
         |  SELECT *,
         |         CAST(SUM(n_tokens) OVER (ORDER BY w_bits DESC, draw, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_incl,
         |         CAST(SUM(n_tokens) OVER () AS BIGINT) AS pool_mass
         |  FROM xg),
         |xm AS (
         |  SELECT doc_id,
         |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         |         n_tokens
         |  FROM xr
         |  WHERE cum_incl <= CAST(ceil(pool_mass * $DsirTokenBudgetFrac) AS BIGINT)),
         |xp AS (
         |  SELECT doc_id, shard, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
         |  FROM xm WHERE n_tokens > 0)
         |SELECT doc_id, shard, n_tokens,
         |       cum_end - n_tokens AS start_offset,
         |       (cum_end - n_tokens) // $CtxLen AS pack_first,
         |       (cum_end - n_tokens) % $CtxLen AS offset_in_pack,
         |       (cum_end - 1) // $CtxLen - (cum_end - n_tokens) // $CtxLen + 1 AS packs_spanned
         |FROM xp
         |ORDER BY doc_id""".stripMargin,


    // x83: x80's CTE chain with the md5 hash split (classifierSplitCtes,
    // shared verbatim with x86's confusion matrix) — votes trained on
    // the base slice only, applied to the held-out rest (whose tokens
    // outside the training vocabulary simply find no weight row).
    "x83_classifier_split" ->
      s"""WITH $classifierSplitCtes
         |SELECT l.doc_id,
         |       COALESCE(sc.n_vocab_tokens, 0) AS n_vocab_tokens,
         |       COALESCE(sc.vote_score, 0) AS vote_score,
         |       COALESCE(sc.vote_score, 0) > 0 AS predicted_pos
         |FROM (SELECT DISTINCT doc_id FROM lab WHERE NOT in_base) l
         |LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin,


    // x86: the x83 chain verbatim, predictions confronted with the
    // held-out slice's own weak labels — integer confusion counts, then
    // one divide per rate (NULL on an empty denominator).
    "x86_classifier_confusion" ->
      s"""WITH $classifierSplitCtes,
         |pred AS (
         |  SELECT l.doc_id, l.pos AS label_pos,
         |         COALESCE(sc.vote_score, 0) > 0 AS predicted_pos
         |  FROM (SELECT DISTINCT doc_id, pos FROM lab WHERE NOT in_base) l
         |  LEFT JOIN sc USING (doc_id)),
         |m AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN label_pos AND predicted_pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT label_pos AND predicted_pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN label_pos AND NOT predicted_pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT label_pos AND NOT predicted_pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM pred)
         |SELECT tp, fp, fn, tn,
         |       CASE WHEN tp + fp = 0 THEN NULL
         |            ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS "precision",
         |       CASE WHEN tp + fn = 0 THEN NULL
         |            ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |       CASE WHEN tp + fp + fn + tn = 0 THEN NULL
         |            ELSE CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) END AS accuracy
         |FROM m""".stripMargin,


    // x90: the x83/x86 chain verbatim, plus in-sample TRAINING scores
    // (sct), the integer threshold sweep over the reduced score
    // distribution (correct(tau) = total_pos - cum_pos + cum_neg, with
    // the synthetic min-1 all-positive candidate), argmax with the
    // smallest-tau tiebreak, and the holdout confusion at that cut.
    "x90_classifier_calibrated" ->
      s"""WITH $classifierSplitCtes,
         |sct AS (
         |  SELECT doc_id, CAST(SUM(vote) AS BIGINT) AS vote_score
         |  FROM dt JOIN v USING (token)
         |  WHERE in_base GROUP BY 1),
         |ts AS (
         |  SELECT l.doc_id, l.pos, COALESCE(sct.vote_score, 0) AS vs
         |  FROM (SELECT DISTINCT doc_id, pos FROM lab WHERE in_base) l
         |  LEFT JOIN sct USING (doc_id)),
         |cand AS (
         |  SELECT vs AS tau,
         |         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS nn
         |  FROM ts GROUP BY 1
         |  UNION ALL
         |  SELECT CAST(min(vs) - 1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM ts),
         |cum AS (
         |  SELECT tau,
         |         SUM(np) OVER (ORDER BY tau ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos,
         |         SUM(nn) OVER (ORDER BY tau ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cneg
         |  FROM cand),
         |ttot AS (
         |  SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS total_pos FROM ts),
         |best AS (
         |  SELECT CAST(tau AS BIGINT) AS threshold FROM cum, ttot
         |  ORDER BY (total_pos - cpos + cneg) DESC, tau LIMIT 1),
         |hold AS (
         |  SELECT l.doc_id, l.pos AS label_pos, COALESCE(sc.vote_score, 0) AS vs
         |  FROM (SELECT DISTINCT doc_id, pos FROM lab WHERE NOT in_base) l
         |  LEFT JOIN sc USING (doc_id)),
         |m AS (
         |  SELECT b.threshold,
         |    CAST(SUM(CASE WHEN label_pos AND vs > b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN NOT label_pos AND vs > b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(SUM(CASE WHEN label_pos AND vs <= b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(SUM(CASE WHEN NOT label_pos AND vs <= b.threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM hold, best b GROUP BY 1)
         |SELECT threshold, tp, fp, fn, tn,
         |       CASE WHEN tp + fp = 0 THEN NULL
         |            ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS "precision",
         |       CASE WHEN tp + fn = 0 THEN NULL
         |            ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
         |       CASE WHEN tp + fp + fn + tn = 0 THEN NULL
         |            ELSE CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) END AS accuracy
         |FROM m""".stripMargin,


    // x80: the x26 quality CTE chain provides the weak label; training
    // and scoring are pure integer arithmetic (cross-multiplied df
    // ratios, ±1 votes), so the gate is exact with no float tolerance.
    "x80_quality_classifier" ->
      s"""WITH $qualityGateCte,
         |lab AS (
         |  SELECT q.doc_id, qt.t, (q.quality_score >= $QualityGate) AS pos
         |  FROM qq q JOIN qtoks qt USING (doc_id)),
         |dt AS (
         |  SELECT doc_id, pos, unnest(list_distinct(t)) AS token FROM lab),
         |tot AS (
         |  SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
         |  FROM lab),
         |w AS (
         |  SELECT token,
         |         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_df,
         |         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS neg_df
         |  FROM dt GROUP BY 1),
         |v AS (
         |  SELECT token,
         |         CASE WHEN pos_df * n_neg > neg_df * n_pos THEN 1
         |              WHEN pos_df * n_neg < neg_df * n_pos THEN -1
         |              ELSE 0 END AS vote
         |  FROM w, tot),
         |sc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_vocab_tokens,
         |         CAST(SUM(vote) AS BIGINT) AS vote_score
         |  FROM dt JOIN v USING (token) GROUP BY 1)
         |SELECT l.doc_id, l.pos AS label_pos,
         |       COALESCE(sc.n_vocab_tokens, 0) AS n_vocab_tokens,
         |       COALESCE(sc.vote_score, 0) AS vote_score,
         |       COALESCE(sc.vote_score, 0) > 0 AS predicted_pos
         |FROM lab l LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin,


    // x53: the x20 recursive-CTE closure supplies cluster labels; the
    // split is the salted md5-prefix draw over coalesce(label, doc_id),
    // cuts interpolated from the same Sampling.cutFor constants as the
    // Spark side.
    "x53_cluster_split" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |$ccLabelsCte,
         |keyed AS (
         |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.v)
         |SELECT doc_id, split_key,
         |       CASE WHEN substr(md5(CAST(split_key AS VARCHAR) || '$SplitSalt'), 1, 8)
         |                 < '${Sampling.cutFor(SplitTrainFrac)}' THEN 'train'
         |            WHEN substr(md5(CAST(split_key AS VARCHAR) || '$SplitSalt'), 1, 8)
         |                 < '${Sampling.cutFor(SplitTrainFrac + SplitValFrac)}' THEN 'val'
         |            ELSE 'test' END AS split
         |FROM keyed
         |ORDER BY doc_id""".stripMargin,


    // x60: the x46 statistic iterated with application — k unrolled
    // rounds, each: count pairs of the PREVIOUS round's rewrite, pick
    // (n desc, pair asc), apply greedily leftmost (islands odd-rank ≡ the
    // Spark fold; see bpeRoundSql).
    "x60_bpe_merges" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |seqs0 AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
         |${(1 to BpeRounds).map(r => bpeRoundSql(r)).mkString(",\n")}
         |SELECT round, pair, n, n_tokens_after
         |FROM (${(1 to BpeRounds).map(r => s"SELECT * FROM row$r").mkString(" UNION ALL ")})
         |ORDER BY round""".stripMargin,


    // x45: the bloom prefilter is invisible in the exact output — the
    // oracle is x28's SQL verbatim (same eval split, same threshold).
    "x45_decontamination_bloom" ->
      s"""WITH $shinglesCte,
         |ev AS (
         |  SELECT DISTINCT unnest(sh) AS shingle FROM sh
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(EvalFrac)}'),
         |tr AS (
         |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |         unnest(sh) AS shingle
         |  FROM sh
         |  WHERE NOT (substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(EvalFrac)}')),
         |hit AS (
         |  SELECT tr.doc_id, tr.n_shingles, count(*) AS n_shared
         |  FROM tr JOIN ev ON tr.shingle = ev.shingle
         |  GROUP BY 1, 2)
         |SELECT doc_id, n_shingles, n_shared,
         |       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_frac
         |FROM hit
         |WHERE CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= $ContaminationThreshold
         |ORDER BY doc_id""".stripMargin,


    // Misra-Gries in the exactness regime (k > per-source distinct): the
    // UDAF's counters never evict, so the plain GROUP BY IS the oracle.
    "x39_heavy_hitters" ->
      """WITH t AS (
        |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents)
        |SELECT source, tok AS token, count(*) AS n
        |FROM t GROUP BY 1, 2
        |ORDER BY source, token""".stripMargin,


    // Token-window chunking: window starts via range(), inclusive
    // list_slice bounds mirror Spark's (start, length) slice exactly.
    "x31_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
         |  FROM toks WHERE len(t) > 0),
         |ks AS (
         |  SELECT doc_id, n_tokens, t,
         |         unnest(range(0, ((n_tokens - 1) // $ChunkStride) + 1)) AS k
         |  FROM d),
         |ch AS (
         |  SELECT doc_id, n_tokens, CAST(k AS BIGINT) AS chunk_id,
         |         list_slice(t, k * $ChunkStride + 1,
         |                    k * $ChunkStride + $ChunkSize) AS chunk
         |  FROM ks)
         |SELECT doc_id, n_tokens, chunk_id,
         |       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
         |       md5(array_to_string(chunk, ' ')) AS chunk_hash
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,


    // Salient terms: tf and df from the one occurrence relation, salience
    // = the single IEEE divide of two BIGINTs, per-doc row_number ≤ k
    // with the (salience DESC, tok) total order.
    "x32_doc_keywords" ->
      s"""WITH $tfSalienceCtes
         |SELECT doc_id, rnk, tok, tf, df, salience FROM r
         |WHERE rnk <= $KeywordsPerDoc
         |ORDER BY doc_id, rnk""".stripMargin,


    // Per-label centroids: zip-unnest (dim, quantized value), integer
    // sums, two IEEE divides — same quantization CTE family as x05–x07.
    // x26: the CTE chain composes the proven x09/x10 per-row fragments
    // with the x20/x23 recursive component fixpoint; `qtoks` (not `toks`)
    // avoids colliding with the minhashVerifiedCte's own token CTE.
    "x26_pipeline_gate" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |$ccLabelsCte,
         |dropped AS (SELECT v FROM lab WHERE label <> v),
         |$qualityGateCte,
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY sha256(text))
         |SELECT g.lang, count(*) AS n_docs,
         |       CAST(SUM(g.n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(SUM(g.n_chars) AS BIGINT) AS total_chars,
         |       MIN(g.quality_score) AS min_quality,
         |       MAX(g.quality_score) AS max_quality
         |FROM gated g
         |WHERE g.doc_id IN (SELECT doc_id FROM keep)
         |  AND g.doc_id NOT IN (SELECT v FROM dropped)
         |GROUP BY g.lang
         |ORDER BY g.lang""".stripMargin,


    // x26b: the x26 chain widened into the FULL corpus build — gate →
    // exact dedup → block-level span dedup (x54's stage, over the exact
    // survivors) → near-dup anti-join → x53's leakage-safe cluster split —
    // reported per (lang, split) with BOTH token totals (raw and
    // post-block-dedup, the tokenizer-budget number a data plan consumes).
    "x26b_corpus_build" ->
      s"""WITH RECURSIVE $minhashVerifiedCte,
         |$ccLabelsCte,
         |dropped AS (SELECT v FROM lab WHERE label <> v),
         |$qualityGateCte,
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY sha256(text)),
         |exact_kept AS (
         |  SELECT * FROM gated WHERE doc_id IN (SELECT doc_id FROM keep)),
         |btoks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM exact_kept),
         |b0 AS (
         |  SELECT doc_id, len(t) AS n,
         |         list_transform(range(0, CAST(ceil(len(t) / ${BlockW}.0) AS BIGINT)),
         |           j -> array_to_string(list_slice(t, j*$BlockW+1, j*$BlockW+$BlockW), ' ')) AS bl
         |  FROM btoks WHERE len(t) > 0),
         |blocks AS (
         |  SELECT doc_id, n, unnest(range(0, len(bl))) AS idx, unnest(bl) AS blk
         |  FROM b0),
         |ranked AS (
         |  SELECT doc_id, n, idx, blk,
         |         row_number() OVER (PARTITION BY md5(blk) ORDER BY doc_id, idx) AS rn
         |  FROM blocks),
         |bstats AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN rn = 1 THEN least($BlockW, n - idx*$BlockW) ELSE 0 END) AS BIGINT) AS n_tokens_kept
         |  FROM ranked GROUP BY doc_id),
         |surv AS (
         |  SELECT g.*, b.n_tokens_kept
         |  FROM exact_kept g JOIN bstats b ON g.doc_id = b.doc_id
         |  WHERE b.n_tokens_kept > 0
         |    AND g.doc_id NOT IN (SELECT v FROM dropped)),
         |keyed AS (
         |  SELECT s.*, coalesce(l.label, s.doc_id) AS split_key
         |  FROM surv s LEFT JOIN lab l ON s.doc_id = l.v),
         |split AS (
         |  SELECT *,
         |         CASE WHEN substr(md5(CAST(split_key AS VARCHAR) || '$SplitSalt'), 1, 8)
         |                   < '${Sampling.cutFor(SplitTrainFrac)}' THEN 'train'
         |              WHEN substr(md5(CAST(split_key AS VARCHAR) || '$SplitSalt'), 1, 8)
         |                   < '${Sampling.cutFor(SplitTrainFrac + SplitValFrac)}' THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM keyed)
         |SELECT lang, split, count(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(SUM(n_tokens_kept) AS BIGINT) AS kept_block_tokens
         |FROM split
         |GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin,


    // x28: per-doc shingle lists are DISTINCT (shinglesCte mirrors
    // ShingleArray), and `ev` is DISTINCT, so the inner join counts each
    // train shingle at most once — exactly Spark's LEFT SEMI count.
    "x28_decontamination" ->
      s"""WITH $shinglesCte,
         |ev AS (
         |  SELECT DISTINCT unnest(sh) AS shingle FROM sh
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(EvalFrac)}'),
         |tr AS (
         |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |         unnest(sh) AS shingle
         |  FROM sh
         |  WHERE NOT (substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(EvalFrac)}')),
         |hit AS (
         |  SELECT tr.doc_id, tr.n_shingles, count(*) AS n_shared
         |  FROM tr JOIN ev ON tr.shingle = ev.shingle
         |  GROUP BY 1, 2)
         |SELECT doc_id, n_shingles, n_shared,
         |       CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS overlap_frac
         |FROM hit
         |WHERE CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= $ContaminationThreshold
         |ORDER BY doc_id""".stripMargin,


    "x27_source_mixture" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, lang,
         |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < $mixtureCaseSql)
         |SELECT source, lang, count(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM toks GROUP BY 1, 2
         |ORDER BY source, lang""".stripMargin,


    "x22_vocab_coverage" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (SELECT tok, count(*) AS tf FROM occ GROUP BY 1)
        |  ORDER BY tf DESC, tok LIMIT 50),
        |j AS (
        |  SELECT o.doc_id, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM occ o LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(SUM(oov) AS BIGINT) AS n_oov,
        |       CAST(SUM(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    "x18_text_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |occ AS (
        |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bigram
        |  FROM toks, unnest(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |cf AS (SELECT bigram, count(*) AS cf FROM occ GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(SUM(cf.cf) AS DOUBLE) / count(*) AS avg_bigram_cf,
        |       min(cf.cf) AS min_bigram_cf
        |FROM occ JOIN cf USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
