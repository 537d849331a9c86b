package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Text-analysis operators for LLM-data-pipeline workloads (SURVEY.md §7.6).
  *
  * Everything here is a pure per-row `Column` expression built from Spark
  * built-ins (regexp, higher-order array functions, md5) — no UDFs, no
  * shuffles, fully inside whole-stage codegen. That is the 100 TB design:
  * text featurization is embarrassingly parallel, so the operators must not
  * introduce exchanges; a scan + project over a document corpus scales
  * linearly with executors.
  *
  * Every function has an exact ANSI-SQL twin runnable by DuckDB (see
  * graft.queries.Extensions) — the md5-based hashing is deliberately chosen
  * because both engines produce identical lowercase-hex md5 strings,
  * making fingerprints and MinHash signatures bit-identical across engines.
  */
object TextOps {
  /** Tokenization convention, fixed engine-wide: lowercase maximal runs of
    * [a-z0-9]. A BPE-ish refinement would add punctuation classes; the
    * regex is the contract — both Spark (Java regex) and the DuckDB oracle
    * (RE2) interpret this subset identically. */
  val TokenPattern = "[a-z0-9]+"

  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(0))

  /** Distinct w-token shingles ("n-gram" units for dedup), joined by a
    * single space. Documents with < w tokens shingle to an empty set.
    * Backed by the codegen-friendly ShingleArray expression; semantically
    * identical to `array_distinct(transform(sequence(1, n-w+1), i ->
    * concat_ws(' ', slice(toks, i, w))))`, which is what the DuckDB
    * oracle mirrors (consumers are order-insensitive). */
  def shingles(toks: Column, w: Int = 3): Column =
    org.apache.spark.sql.graftfn.ShingleArray.shingles(toks, w)

  /** Token statistics: total / distinct counts, type-token ratio, average
    * token length. All integer arithmetic until one final IEEE divide, so
    * the values are deterministic and engine-portable. */
  def tokenStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    df.withColumn("n_tokens", size(t).cast(LongType))
      .withColumn("n_distinct_tokens", size(array_distinct(t)).cast(LongType))
      .withColumn("total_token_chars",
        aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast(LongType))
      .withColumn("type_token_ratio",
        when(col("n_tokens") > 0,
          col("n_distinct_tokens").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(lit(0.0)))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          col("total_token_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(lit(0.0)))
  }

  /** Stopword list for quality scoring / language ID. Tiny by design —
    * the operator mechanics (set-membership over token arrays) are what
    * scale; a production lexicon is a config swap. */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isInCollection(words))).cast(LongType)

  /** Heuristic document-quality score in [0,1]: length saturation ×
    * (1 − punctuation ratio) × stopword presence. The formula is a
    * deterministic composition of integer counts and IEEE double ops. */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    df.withColumn("n_chars", length(col(textCol)).cast(LongType))
      .withColumn("n_tokens", size(t).cast(LongType))
      .withColumn("punct_chars",
        length(regexp_replace(lower(col(textCol)), lit("[a-z0-9 ]"), lit("")))
          .cast(LongType))
      .withColumn("stopword_count", countIn(t, EnglishStopwords))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0,
          col("punct_chars").cast(DoubleType) / col("n_chars").cast(DoubleType))
          .otherwise(0.0))
      .withColumn("stopword_ratio",
        when(col("n_tokens") > 0,
          col("stopword_count").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(0.0))
      .withColumn("quality_score",
        round(
          least(col("n_tokens").cast(DoubleType) / 50.0, lit(1.0))
            * (lit(1.0) - col("punct_ratio"))
            * least(col("stopword_ratio") * 5.0 + 0.5, lit(1.0)), 6))
  }

  /** Marker lexicons for n-gram-heuristic language ID. Ordered — the
    * CASE ladder ties break toward the earlier language. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "los", "que", "y", "las"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq())

  /** Language-ID by marker-word frequency (+ CJK codepoint presence for
    * zh). Emits one score column per language and an argmax prediction;
    * per-row only, so it runs at scan speed. */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = tokens(col(textCol))
    val scored = LangMarkers.foldLeft(df) { case (d, (lang, markers)) =>
      val score =
        if (lang == "zh")
          size(regexp_extract_all(col(textCol), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
            .cast(LongType)
        else countIn(t, markers)
      d.withColumn(s"score_$lang", score)
    }
    // argmax with declaration-order tiebreak: a CASE ladder where each
    // language wins only if strictly greater than all later ones.
    val langs = LangMarkers.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit(langs.last)) {
      case ((lang, i), elseCol) =>
        if (i == langs.size - 1) elseCol
        else {
          val later = langs.drop(i + 1)
          val geAllLater = later.map(l => col(s"score_$lang") >= col(s"score_$l"))
            .reduce(_ && _)
          when(geAllLater, lit(lang)).otherwise(elseCol)
        }
    }
    scored.withColumn("predicted_lang", pred)
  }

  /** Document fingerprint: the minimum md5 over the document's w-token
    * shingles — a 1-permutation MinHash (winnowing-lite). Two documents
    * sharing a fingerprint are near-dup candidates; the full MinHash
    * signature lives in Dedup.minhashSignatures. Empty shingle set → null
    * fingerprint. */
  def fingerprint(toks: Column, w: Int = 3): Column =
    array_min(transform(shingles(toks, w), s => md5(s)))

  /** Every ADJACENT token pair, in document order, space-joined — the
    * unit the BPE-trainer merge statistic counts (Extensions x46). A
    * `zip_with` of the array against its own tail: no index arithmetic,
    * no per-element subexpression re-evaluation (both slices evaluate
    * once), and occurrences are kept (no dedup — counts are the point).
    * < 2 tokens → empty array. */
  def adjacentPairs(toks: Column): Column = {
    // slice rejects negative lengths — clamp so <2-token docs (tail
    // length −1/0) yield an empty pair list instead of erroring
    val tailLen = greatest(size(toks) - 1, lit(0))
    zip_with(
      slice(toks, lit(1), tailLen),
      slice(toks, lit(2), tailLen),
      (a, b) => concat_ws(" ", a, b))
  }

  /** Repetition / boilerplate metrics — the Gopher-style quality filters
    * (Rae et al. 2021 §A1.1) a pretraining pipeline thresholds on:
    *
    *  - `top_token_frac`: share of the document occupied by its single
    *    most frequent token (degenerate/keyword-stuffed docs score high);
    *  - `dup_bigram_frac`: fraction of consecutive-token bigrams that are
    *    repeats of an earlier bigram in the same document (template /
    *    boilerplate text scores high).
    *
    * Bigrams are built IN-ROW with a codegen'd HOF over the token array
    * (no self-join); the per-token mode is a (doc, token) aggregate —
    * shuffle-on-key, scan-shaped at corpus scale. The in-row alternative
    * for the mode (filter-count per distinct token) is O(n²) per document
    * and loses to the aggregate as soon as documents are long — the
    * aggregate's cost is bounded by corpus token count regardless of
    * per-document length. All counts are integers; each output ratio is
    * one IEEE divide — deterministic and engine-portable. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
    val inRow = toks
      .withColumn("n_tokens", size(col("t")).cast(LongType))
      .withColumn("bg", expr(
        """transform(slice(t, 1, greatest(size(t) - 1, 0)),
          |          (x, i) -> concat(x, ' ', element_at(t, i + 2)))""".stripMargin))
      .withColumn("n_bigrams", size(col("bg")).cast(LongType))
      .withColumn("n_distinct_bigrams", size(array_distinct(col("bg"))).cast(LongType))
      .drop("bg", "t")
    val mode = toks.select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_token_n"))
    inRow.join(mode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("top_token_n"), lit(0L)).as("top_token_n"),
        col("n_bigrams"), col("n_distinct_bigrams"))
      .withColumn("top_token_frac",
        when(col("n_tokens") > 0,
          col("top_token_n").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(0.0))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") > 0,
          (col("n_bigrams") - col("n_distinct_bigrams")).cast(DoubleType) /
            col("n_bigrams").cast(DoubleType))
          .otherwise(0.0))
  }

  /** Fixed-stride token-window chunking — the tokenize-and-pack step a
    * pretraining pipeline runs between curation and batching: each
    * document becomes ⌈n/stride⌉ windows of up to `chunkSize` tokens,
    * consecutive windows overlapping by `chunkSize − stride` tokens
    * (chunk k covers token positions [k·stride+1, k·stride+chunkSize]).
    * Documents with zero tokens produce no chunks.
    *
    * Scale shape: pure per-row — tokenize once, build the window starts
    * with `sequence`, slice each window with a codegen'd HOF, ONE
    * posexplode. No shuffles, no joins; output volume ∝ corpus token
    * count × (chunkSize/stride) and the operator runs at scan speed, so
    * it composes with a partitioned writer as the final packing pass.
    * The chunk hash (md5 of the space-joined window) is the downstream
    * join/dedup key — md5-hex is bit-identical in Spark and DuckDB. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .withColumn("n_tokens", size(col("t")).cast(LongType))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        posexplode(transform(
          // integer floor-div: Column./ is DOUBLE division, and the
          // operands stay < 2^53, so the Long cast truncates exactly
          sequence(lit(0L), ((col("n_tokens") - 1L) / stride).cast(LongType)),
          k => slice(col("t"), (k * stride + 1L).cast("int"), lit(chunkSize))))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("n_tokens"),
        col("chunk_id").cast(LongType).as("chunk_id"),
        size(col("chunk")).cast(LongType).as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** Per-document top-`k` salient terms — keyword extraction by
    * tf-over-df ranking: pass 1 computes corpus document frequency per
    * token, pass 2 joins it back to per-document term frequencies and
    * keeps each document's `k` highest-salience terms
    * (salience = tf/df: frequent in THIS document, rare in the corpus —
    * the tf·idf ordering with the idf monotonicity but NO libm log,
    * which is not bit-portable across engines; the one IEEE divide of
    * two integers is). Ties break on token asc — a total order, so the
    * kept set is deterministic.
    *
    * Scale shape: two corpus-scan aggregations (both map-side
    * combinable), a broadcast join-back (df relation ≤ |vocab|, tiny
    * relative to the corpus), and a per-doc window whose rank-filter
    * plans as WindowGroupLimit — no partition materializes more than k
    * rows per document. */
  def tfSalienceTopTerms(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    val occ = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val tf = occ.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = occ.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    graft.ops.TopK.perGroup(tf.join(broadcast(dfreq), Seq("tok"))
        .withColumn("salience",
          col("tf").cast(DoubleType) / col("df").cast(DoubleType)),
        Seq(col("doc_id")), Seq(desc("salience"), col("tok")), k)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"),
        col("salience"))
  }

  /** Vocabulary coverage / OOV rate — tokenizer-coverage analysis over a
    * corpus, the two-pass corpus-statistics shape (like x18): pass 1
    * builds the exact top-`vocabSize` vocabulary (count desc, token asc —
    * a total order, so the vocabulary is deterministic); pass 2 joins it
    * back to every token occurrence (broadcast — the vocabulary is tiny
    * by construction) and aggregates per document. Documents whose
    * tokenization is empty produce no occurrence rows and are absent from
    * the output, on both engines. At 100 TB both passes are scan + one
    * aggregation; the join-back never shuffles the corpus because the
    * vocab side broadcasts. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    val occ = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = occ.groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    occ.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  /** Winnowing fingerprint selection (Schleimer et al., SIGMOD'03 — the
    * MOSS local fingerprinting scheme): hash every POSITIONAL k-token
    * gram (ordered, unlike [[shingles]]' distinct set), slide a
    * `win`-hash window over the sequence, keep each window's minimum,
    * dedupe. Guarantee: two documents sharing any run of ≥ k+win−1
    * tokens share at least one fingerprint — the passage-level dedup
    * key family that whole-document MinHash (x03) cannot provide.
    * Shorter-than-window hash sequences select their global min (the
    * single-window degenerate case); documents with < k tokens yield an
    * empty set. Output: (idCol as doc_id, fps array<string>).
    *
    * Backed by the graftfn.WinnowArray JVM-loop expression — the built-in
    * nested-HOF formulation is semantically identical (it remains the
    * DuckDB oracle's spelling) but re-derives the whole k-gram hash array
    * once per window on the interpreted HOF path, O(m²) md5s per
    * document (335 s cold on the 30× scale soak; staging the subtrees
    * into projections does not survive CollapseProject). The expression
    * hashes each gram once and selects window minima on raw digests —
    * O(m) md5s, no shuffle, scan-speed like every selector here. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, win: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graftfn.WinnowArray
        .winnow(tokens(col(textCol)), k, win).as("fps"))

  /** Word-boundary alternation over a term blocklist — THE one spelling
    * of the scrub pattern, shared by the Spark expressions below and
    * interpolated into the oracle SQL. `\b` and plain alternation sit in
    * the Java-regex ∩ RE2 subset, so both engines match identically;
    * terms are taken verbatim (callers pass lowercase token-shaped terms,
    * matching the corpus convention — no quoting needed). The token shape
    * is ENFORCED, not just documented: a metacharacter ('.', '+', '(')
    * would silently change the pattern — or diverge between the two
    * engines where their syntaxes differ — so a bad term must fail loudly
    * here, not mis-redact quietly downstream. */
  def scrubPattern(terms: Seq[String]): String = {
    require(terms.nonEmpty, "scrubPattern needs at least one term")
    val bad = terms.filterNot(_.matches("[a-z0-9]+"))
    require(bad.isEmpty,
      s"scrub terms must be lowercase token-shaped ([a-z0-9]+); got: ${bad.mkString(", ")}")
    terms.sorted.mkString("\\b(", "|", ")\\b")
  }

  /** Compliance scrub — the PII-redaction plumbing every training-data
    * pipeline runs before release, exercised here with a term blocklist
    * (the synthetic corpus carries no emails/SSNs, and a redaction gate
    * the correctness gate never sees fire is not tested; swapping the
    * alternation for PII patterns changes ONE string). Per document:
    * the hit count (`size(regexp_extract_all)` — rewritten by
    * CountMatchesRule into the allocation-free counting matcher), the
    * scrubbed text's length, and its sha256 — the audit triple a
    * redaction pass must emit (how much was redacted, proof of what the
    * released bytes are) without shipping the full text twice.
    *
    * Scale shape: pure per-row scan-speed projection — no shuffle, no
    * UDF, fully codegen'd; linear in executors like every TextOps op. */
  def scrubTerms(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], mask: String): DataFrame = {
    val pat = scrubPattern(terms)
    val scrubbed = regexp_replace(col(textCol), lit(pat), lit(mask))
    df.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
        .cast(LongType).as("n_hits"),
      length(scrubbed).cast(LongType).as("n_chars_scrubbed"),
      sha2(scrubbed, 256).as("scrubbed_digest"))
  }

  /** Greedy left-to-right application of ONE BPE merge (a, b) → "a_b" to a
    * token array: scan the array once, merging every non-overlapping
    * occurrence of the adjacent pair, leftmost-first — the exact
    * application step of the BPE training loop (Sennrich et al. ACL'16
    * §3). A run of identical tokens merges at even offsets ([a,a,a] →
    * [a_a, a]), which is what leftmost-greedy means; the DuckDB oracle
    * reproduces the same selection as a gaps-and-islands odd-rank filter.
    * One array fold per row (`aggregate` with an (out, prev) state): the
    * appends copy O(n) per step, so the fold is O(n²) per document —
    * fine for corpus-sized rows; a book-length corpus would promote this
    * to a codegen Expression like WinnowArray. `a`/`b` are COLUMNS (the
    * broadcast 1-row merge anchor), so the merge pair never round-trips
    * through the driver. The "" sentinel is safe as an empty-prev marker
    * because tokens are non-empty by construction ([a-z0-9]+). */
  def applyMerge(toks: Column, a: Column, b: Column): Column = {
    val merged = concat(a, lit("_"), b)
    val empty = expr("cast(array() as array<string>)")
    def out(acc: Column) = acc.getField("out")
    def prev(acc: Column) = acc.getField("prev")
    def flush(acc: Column) = when(prev(acc) === "", out(acc))
      .otherwise(concat(out(acc), array(prev(acc))))
    aggregate(
      toks,
      struct(empty.as("out"), lit("").as("prev")),
      (acc, x) => when(prev(acc) === a && x === b,
          struct(concat(out(acc), array(merged)).as("out"), lit("").as("prev")))
        .otherwise(struct(flush(acc).as("out"), x.as("prev"))),
      acc => flush(acc))
  }

  /** k rounds of the BPE-trainer outer loop over a document corpus
    * (x60): each round counts every adjacent pair (x46's statistic),
    * picks the most frequent (count desc, pair asc — as ONE ungrouped
    * `min_by` aggregate, so the winner stays a broadcastable 1-row anchor
    * and never visits the driver), applies it everywhere with
    * [[applyMerge]], and re-enters. Returns the learned merge table:
    * (round, pair, n = the pair's count when chosen, n_tokens_after =
    * corpus tokens after applying it — the row that proves the merge was
    * APPLIED, not just counted).
    *
    * Scale shape per round: one explode + one map-side-combinable pair
    * count (shuffle carries |distinct pairs|, not occurrences), one
    * ungrouped aggregate to 1 row, one broadcast crossJoin (the
    * fleet-gate-sanctioned anchor form), one per-row fold. The re-entered
    * relation is persisted per round — the same bounded-lineage
    * discipline as the x20 fixpoint (at k in the thousands, swap the
    * persist for the fixpoint's per-round localCheckpoint). */
  def bpeMergeLoop(docs: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    // Lazy persists KEPT here (round 16, measured both ways): this loop's
    // per-round relation is CORPUS-sized (per-doc token arrays), so the
    // eager-checkpoint swap that fixed the vocab-sized weighted loops
    // (see weightedMergeLoop) costs an extra full materialization pass
    // per round and measured 1.6 → 2.9 s at sf0.1 — while the plan at
    // the gate's k = 4 stays small enough that the 2^k growth the
    // checkpoint cures is not yet the bottleneck. At k in the thousands
    // the trade flips; swap to ExtCaches.checkpointTracked then.
    var cur = ExtCaches.persistTracked(docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= 2))
    val rounds = (1 to k).map { r =>
      val top = topPair(cur)
      cur = ExtCaches.persistTracked(applyTopMerge(cur, top))
      cur.agg(sum(size(col("t"))).cast(LongType).as("n_tokens_after"))
        .crossJoin(broadcast(top))
        .select(lit(r.toLong).as("round"), col("m_pair").as("pair"),
          col("m_n").as("n"), col("n_tokens_after"))
        .filter(col("pair").isNotNull) // dead round (exhausted vocab): no row
    }
    rounds.reduce(_.unionAll(_))
  }

  /** This round's winning merge as a 1-row anchor: most frequent
    * adjacent pair, count desc / pair asc, chosen by one ungrouped
    * `min_by` — shared by [[bpeMergeLoop]] (the trainer) and
    * [[bpeEncode]] (the tokenizer), ONE spelling of the tie-break.
    * `weight` multiplies each occurrence (lit(1) for the word-level
    * loop, the word frequency for [[bpeMergeLoopChars]]). */
  private def topPair(cur: DataFrame, weight: Column = lit(1L)): DataFrame = cur
    .select(weight.as("w"), explode(adjacentPairs(col("t"))).as("pair"))
    .groupBy(col("pair")).agg(sum(col("w")).as("n"))
    .agg(min_by(struct(col("pair"), col("n")),
      struct((-col("n")).as("nn"), col("pair"))).as("m"))
    .select(col("m.pair").as("m_pair"), col("m.n").as("m_n"))

  /** Applies the 1-row winner everywhere. Null-winner guard (round-14
    * advice): an exhausted vocabulary (no adjacent pair anywhere — k past
    * total exhaustion) makes the ungrouped min_by yield one all-null row;
    * merging against it must be the IDENTITY, not a fold against null —
    * the oracle's sentinel row (bpeRoundSql's mt$r fallback) spells the
    * same no-op, so both engines hold the sequences stable and emit no
    * merge row for the dead round. Unreachable at gate configs (k ≪
    * exhaustion) but now a defined semantics instead of a latent
    * cross-engine divergence. */
  private def applyTopMerge(cur: DataFrame, top: DataFrame,
                            keep: Seq[String] = Seq("id")): DataFrame = {
    val a = split(col("m_pair"), " ")(0)
    val b = split(col("m_pair"), " ")(1)
    cur.crossJoin(broadcast(top))
      .select(keep.map(col) :+ when(col("m_pair").isNull, col("t"))
        .otherwise(applyMerge(col("t"), a, b)).as("t"): _*)
  }

  /** k rounds of CHARACTER-level BPE training (x110) — the published
    * granularity (Sennrich et al. 2016): merges happen between symbols
    * WITHIN words, never across a word boundary, and each word ends in
    * the `</w>` marker so word-final units stay distinct from word-
    * internal ones. The working relation is the DISTINCT-WORD table
    * with corpus frequencies — the published trainer's own efficiency
    * device (subword-nmt and every production BPE trainer pre-aggregate
    * to word counts): pair statistics are frequency-WEIGHTED sums over
    * |vocab| rows instead of unweighted sums over corpus token
    * occurrences, so each round's shuffle is bounded by the vocabulary,
    * not the corpus. x60 remains the word-level twin (same loop over
    * per-document word sequences — the granularity that feeds x46's
    * phrase mining); this is the tokenizer-training granularity.
    *
    * Per round: one frequency-weighted pair count (map-side
    * combinable), one ungrouped min_by to a broadcastable 1-row winner
    * (count desc, pair asc), one per-row fold ([[applyMerge]] —
    * left-to-right, non-overlapping, the published scan order). Output
    * row r: (round, pair, n = the winner's weighted count,
    * n_tokens_after = Σ freq·|symbols| — the corpus symbol mass that
    * proves the merge was APPLIED, not just counted). Merged symbols
    * are spelled a_b (x60's convention). */
  /** Unicode word extraction for the tokenizer family — `\p{L}\p{N}`
    * word classes instead of [[tokens]]' `[a-z0-9]+` (round-14 verdict
    * #2: the published tokenizer granularity is codepoint-level; the
    * ASCII class silently DROPPED every non-ASCII character from
    * training, the exact multilingual corpora DSIR/CCNet target).
    * `\p{L}`/`\p{N}` are the Unicode general categories in both Java
    * regex (Spark) and RE2 (DuckDB); on a pure-ASCII corpus this
    * tokenization is provably identical to [[tokens]]', so the x110/x111
    * hashes are unchanged by the switch. [[tokens]] itself stays ASCII —
    * it feeds the x08…x66 analysis fleet whose oracles pin that class.
    *
    * Case-folding fence (round-15 advice): the `lower()` BEFORE
    * extraction is Java full case mapping in Spark
    * (UTF8String.toLowerCase falls back to String.toLowerCase on
    * non-ASCII — context-sensitive final sigma Σ→ς, locale-free but
    * condition-aware) vs utf8proc SIMPLE codepoint mapping in DuckDB
    * (Σ→σ always). The engines agree on every one-to-one fold
    * (Α→α, Ц→ц, …) — x110b's uppercase stuffing word pins exactly
    * that — and can diverge only on the condition-/locale-sensitive
    * set (final sigma, dotted I, Lithuanian accents): gate corpora
    * must avoid those codepoints in UPPERCASE position, same fence
    * class as the non-BMP caveat on [[codepoints]] (retired for the
    * byte-level loop, where symbols are engine-neutral bytes). */
  private[ext] def tokensUnicode(text: Column): Column =
    regexp_extract_all(lower(text), lit("[\\p{L}\\p{N}]+"), lit(0))

  /** One symbol per CODEPOINT — `.` matches a single code point in both
    * Java regex and RE2 (words carry no line terminators). Non-BMP
    * symbols (outside U+0000–U+FFFF) are the one documented divergence
    * risk: Java matches them as single code points too, but a gate
    * corpus stays BMP-only so the engines can never disagree on what a
    * "character" is. [[utf8Bytes]] (x110c, round 16) retires the
    * question entirely — at byte granularity there is no character
    * boundary to agree on, and its gate corpus carries an astral
    * letter on purpose. */
  private[ext] def codepoints(word: Column): Column =
    regexp_extract_all(word, lit("."), lit(0))

  /** One symbol per UTF-8 BYTE of the word, spelled as a lowercase
    * 2-hex-char string — the byte-level symbol universe (GPT-2
    * granularity: Radford et al. 2019 run BPE over bytes so EVERY
    * string is representable from a 256-symbol base alphabet, no OOV
    * character possible). Engine-neutral BY CONSTRUCTION: both engines
    * hex-encode the word's UTF-8 bytes and split the hex string into
    * 2-char units, so the astral-plane "what is a character" question
    * [[codepoints]] documents as its one divergence risk does not
    * exist at this granularity — x110c gates it with an astral LETTER
    * (𝛼 U+1D6FC, outside the BMP) provably in the merge table. */
  private[ext] def utf8Bytes(word: Column): Column =
    regexp_extract_all(lower(hex(encode(word, "UTF-8"))), lit(".."), lit(0))

  /** The distinct-word symbol relation the weighted BPE loop trains
    * and applies over: (word, corpus freq, `sym`(word) + the `</w>`
    * marker). `sym` picks the granularity — [[codepoints]] (x110's
    * published char level) or [[utf8Bytes]] (x110c's GPT-2 byte
    * level); the loop algebra above it is identical. Codepoint form is
    * byte-identical on ASCII corpora, correct on multilingual BMP ones
    * (gated by x110b's non-ASCII variant); the byte form needs no BMP
    * fence at all. */
  private def wordSeqs(docs: DataFrame, textCol: String,
                       sym: Column => Column): DataFrame =
    docs.select(explode(tokensUnicode(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(sym(col("word")), array(lit("</w>"))).as("t"))

  private def charWordSeqs(docs: DataFrame, textCol: String): DataFrame =
    wordSeqs(docs, textCol, codepoints)

  def bpeMergeLoopChars(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame =
    weightedMergeLoop(charWordSeqs(docs, textCol), k)

  /** Byte-level BPE training (x110c) — [[bpeMergeLoopChars]]' loop over
    * the [[utf8Bytes]] symbol universe: the same frequency-weighted
    * distinct-word relation, pair statistic, 1-row min_by winner and
    * greedy fold, with merges between (hex-spelled) UTF-8 bytes within
    * words. Same vocab-bounded scale shape; the symbol alphabet is
    * ≤ 256 base units + learned merges. */
  def bpeMergeLoopBytes(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame =
    weightedMergeLoop(wordSeqs(docs, textCol, utf8Bytes), k)

  /** k frequency-weighted merge rounds over a (word, freq, t) seed —
    * the shared trainer body of the char- and byte-level loops. */
  private def weightedMergeLoop(seed: DataFrame, k: Int): DataFrame = {
    // Eager per-round localCheckpoint — same 2^k-plan-growth argument
    // as bpeMergeLoop (the fix was measured HERE first: x110c's 6-round
    // byte loop rendered a 940 KB plan and ran 11.8 s vs the 4-round
    // char twin's 1.7 s before the swap). Round-17 profile
    // (OPTIMIZATION_r17.md "Measured and rejected"):
    // the vocab is ~31 rows, the seed shuffle is 0.55 s and each round
    // ~0.17 s of pure per-job overhead — no §2 partitioning lever
    // applies. A cadence-2 checkpoint (lazy persist on odd rounds) was
    // A/B'd to cut the job count and measured SLOWER (x110c 1.76 →
    // 2.46 s: the next round's broadcast still forces the persist fill
    // as its own job, so no job is saved and the persist adds cache
    // bookkeeping). Kept at cadence 1, measured decision.
    var cur = ExtCaches.checkpointTracked(seed)
    val rounds = (1 to k).map { r =>
      val top = topPair(cur, col("freq"))
      cur = ExtCaches.checkpointTracked(
        applyTopMerge(cur, top, keep = Seq("word", "freq")))
      cur.agg(sum(col("freq") * size(col("t"))).cast(LongType)
          .as("n_tokens_after"))
        .crossJoin(broadcast(top))
        .select(lit(r.toLong).as("round"), col("m_pair").as("pair"),
          col("m_n").as("n"), col("n_tokens_after"))
        .filter(col("pair").isNotNull) // dead round (exhausted vocab): no row
    }
    rounds.reduce(_.unionAll(_))
  }

  /** The VOCABULARY encoded by k char-BPE rounds (x111) — the
    * tokenizer-apply half of [[bpeMergeLoopChars]]'s train→apply, the
    * char-granularity twin of [[bpeEncode]]/x66: each round re-derives
    * the same deterministic winner and folds it through every word's
    * symbol sequence. The output IS the trained tokenizer's working
    * state: one row per distinct word with its corpus frequency and
    * final symbol sequence — what a production tokenizer freezes and
    * ships. [[bpeApplyVocab]] (x113) is that shipped forward pass: one
    * |vocab|-sized broadcast join over raw unseen text, never a
    * re-derivation — the claim is hash-gated, not scaladoc. Same
    * vocab-bounded scale shape as the trainer.
    *
    * Anchored per cache epoch (round 17 — the r16 verdict's #7): the final
    * eager localCheckpoint is what roots compositions at a LogicalRDD,
    * but unlike the lazy persists it is NOT deduped by the CacheManager —
    * every warm re-construction re-materialized the full pass (x113's
    * warm reps paid 0.2 s for a vocabulary the session already held).
    * Keyed on the canonicalized seed plan + k so distinct corpora and
    * configs never collide. */
  def bpeEncodeChars(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = ExtCaches.anchor("bpeEncodeChars",
      docs.sparkSession,
      (charWordSeqs(docs, textCol).queryExecution.analyzed.canonicalized, k)) {
    // Per-round lazy persists + ONE final eager checkpoint (round 16,
    // measured): the persists let a warm re-construction dedupe against
    // the still-cached rounds (the bench's warm-median contract), while
    // the final checkpoint roots the returned vocabulary at a
    // LogicalRDD so COMPOSITIONS over it (x113's apply join, x114's
    // packing, x115's full pipeline) never re-render the k-round chain
    // — x115's composed plan was 549 KB / 9.4 s before, 4.6 s after.
    var cur = ExtCaches.persistTracked(charWordSeqs(docs, textCol))
    (1 to k).foreach { _ =>
      cur = ExtCaches.persistTracked(
        applyTopMerge(cur, topPair(cur, col("freq")),
          keep = Seq("word", "freq")))
    }
    ExtCaches.checkpointTracked(cur)
  }

  /** Char-BPE tokenizer APPLY on raw unseen text (x113) — the forward
    * pass a frozen vocabulary ships for: encode documents that played NO
    * part in training against the [[bpeEncodeChars]] word→symbols table.
    * Per document: unicode word extraction ([[tokensUnicode]] — the
    * trainer's own splitter), one broadcast left join of word
    * occurrences against the |vocab|-sized frozen table, OOV words
    * (unseen at train time) falling back to their raw codepoint symbols
    * + `</w>` (the untrained-word identity every production BPE encoder
    * degrades to — a merge table never fires on symbols it hasn't
    * merged), then one per-document regroup rebuilding the sequence in
    * word order. Output per the x66 digest convention: (id, n_words,
    * n_oov_words, n_tokens, seq_digest) — n_oov_words is the coverage
    * audit column (how much of the unseen corpus the frozen vocabulary
    * actually covers). Documents with zero extractable words have no
    * sequence and are excluded (a length gate catches them first; both
    * engines drop them identically at the explode).
    *
    * Scale shape — the reason freeze→apply exists: the trainer's k
    * per-round folds are paid ONCE at train time on the distinct-word
    * relation; applying is one broadcast hash join (the vocab is
    * |distinct words| ≤ a few million rows at 100 TB — and past
    * broadcast size it becomes a shuffle equi-join on the word key, same
    * plan class as x28's decontamination fallback) plus one per-doc
    * groupBy whose shuffle carries token occurrences — linear in corpus
    * size, zero per-round re-derivation. */
  /** Deterministic OOV probe for the x113 apply gate: every third doc
    * (u16 hash draw) gets one appended word derived from its own id
    * ("ov" + 8 md5 hex chars) — unique per document and
    * collision-improbable (a base-slice doc would have to naturally
    * contain that exact ov[0-9a-f]{8} token to put the probe word in
    * the vocabulary; the x113 spec asserts n_oov_words > 0 at gate
    * scale so a silent loss of OOV coverage fails loudly rather than
    * staying hash-green with the fallback path unexercised). The
    * codepoint-fallback path fires for every probe word not covered by
    * the trained vocabulary. The x105 discipline:
    * when the natural corpus can't exercise a path (its generative
    * vocabulary is small enough that a base slice covers every held-out
    * word), synthesize the condition inside the query with portable
    * hash draws, so both engines build the identical variant. */
  def oovProbeVariant(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val ids = col(idCol).cast(StringType)
    docs.select(col(idCol),
      when(Planted.u16(concat(lit("oov|"), ids)) % 3 === 0L,
        concat(col(textCol), lit(" ov"),
          substring(md5(concat(lit("oovw|"), ids)), 1, 8)))
        .otherwise(col(textCol)).as(textCol))
  }

  /** Deterministic NON-ASCII corpus variant for the x110b gate: every
    * third doc (u16 hash draw) appends `reps` copies of `word` — a
    * BMP-only multilingual token. Sized so the word's adjacent codepoint
    * pairs outweigh the corpus's top ASCII pair at every SF (both sides
    * scale linearly with doc count, so the margin is SF-invariant) and
    * the merge table provably carries non-ASCII rows — the condition the
    * old `[a-z0-9]` symbol class silently dropped. Same x105 synthesize-
    * inside-the-query discipline as [[oovProbeVariant]]. */
  def nonAsciiVariant(docs: DataFrame, idCol: String, textCol: String,
                      word: String, reps: Int): DataFrame = {
    val ids = col(idCol).cast(StringType)
    val phrase = Seq.fill(reps)(word).mkString(" ")
    docs.select(col(idCol),
      when(Planted.u16(concat(lit("ub|"), ids)) % 3 === 0L,
        concat(col(textCol), lit(" " + phrase)))
        .otherwise(col(textCol)).as(textCol))
  }

  def bpeApplyVocab(docs: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
      posexplode(tokensUnicode(col(textCol))).as(Seq("p", "word")))
    words
      .join(broadcast(vocab.select(col("word"), col("t").as("vt"))),
        Seq("word"), "left")
      .select(col("id"), col("p"), col("vt").isNull.as("oov"),
        coalesce(col("vt"),
          concat(codepoints(col("word")), array(lit("</w>")))).as("syms"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov_words"),
        collect_list(struct(col("p"), col("syms"))).as("ps"))
      .select(col("id"), col("n_words"), col("n_oov_words"),
        flatten(transform(array_sort(col("ps")), s => s.getField("syms")))
          .as("t"))
      .select(col("id"), col("n_words"), col("n_oov_words"),
        size(col("t")).cast(LongType).as("n_tokens"),
        md5(concat_ws(" ", col("t"))).as("seq_digest"))
  }

  /** DSIR enrichment audit (x112) — the effectiveness number for
    * [[dsirResample]], in the x86 confusion-matrix discipline: confront
    * the ACCEPTED/REJECTED partition of the held-out pool with the
    * held-out docs' own target labels (which played NO part in the
    * weights — the models trained on the base slice only). ONE row of
    * exact integer counts (kept/dropped × target/non-target) plus
    * single-IEEE-divide rates and the enrichment lift
    * (kept_target·n_dropped) / (dropped_target·n_kept) — a resample
    * that works reads lift > 1: acceptance concentrates target-like
    * documents. NULL-safe on empty partitions (a threshold outside the
    * weight support keeps or drops everything). Scale shape: the x109
    * plan plus one corpus equi-join against the label projection and
    * one global aggregate. */
  def dsirEnrichment(docs: DataFrame, idCol: String, textCol: String,
                     targetCol: String, baseFrac: Double, buckets: Int,
                     thresholdBits: Long): DataFrame =
    enrichmentCells(
      dsirResample(docs, idCol, textCol, targetCol, baseFrac, buckets,
        thresholdBits),
      docs.select(col(idCol).as("id"), col(targetCol).as("is_target")))

  /** The x112b twin: the same audit row over the TOP-K schedule's
    * partition — 1 vs the Bernoulli form's lift adjudicates the two
    * published thinning schedules on the same weights with a number. */
  def dsirTopKEnrichment(docs: DataFrame, idCol: String, textCol: String,
                         targetCol: String, baseFrac: Double, buckets: Int,
                         keepFrac: Double): DataFrame =
    enrichmentCells(
      dsirTopK(docs, idCol, textCol, targetCol, baseFrac, buckets, keepFrac),
      docs.select(col(idCol).as("id"), col(targetCol).as("is_target")))

  /** The x112c twin: the audit row over the TOKEN-BUDGET schedule's
    * partition — with x112/x112b it completes the trio, so all three
    * published thinning denominators carry a measured lift. */
  def dsirTokenBudgetEnrichment(docs: DataFrame, idCol: String,
                                textCol: String, targetCol: String,
                                baseFrac: Double, buckets: Int,
                                budgetFrac: Double): DataFrame =
    enrichmentCells(
      dsirTokenBudget(docs, idCol, textCol, targetCol, baseFrac, buckets,
        budgetFrac),
      docs.select(col(idCol).as("id"), col(targetCol).as("is_target")))

  /** ONE spelling of the enrichment audit (x112/x112b/x112c): confront
    * an accepted/rejected partition (`scored`: id, accepted) with
    * held-out labels that played no part in the weights — exact integer
    * cells, one IEEE divide per rate, NULL-safe on empty partitions.
    * The lift is the RATIO OF THE TWO RATES (round-15 advice): the
    * integer-product form kept_target·n_dropped wraps i64 silently in
    * Spark (and errors in DuckDB) once cell counts approach 2³² — the
    * same unguarded-product class [[dsirLambda]] guards against. Each
    * rate is one exact Long→double cast pair and one divide; the ratio
    * is a third IEEE divide, identical on both engines. NULL semantics
    * are unchanged: an empty partition NULLs its rate (and the lift),
    * and a zero dropped-target rate NULLs the lift (division by zero
    * was NULL in the product form too). */
  private def enrichmentCells(scored: DataFrame,
                              labels: DataFrame): DataFrame = {
    def rate(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    scored.join(labels, Seq("id"))
      .agg(
        sum(when(col("accepted"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("accepted"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("accepted") && col("is_target"), 1L).otherwise(0L))
          .as("kept_target"),
        sum(when(!col("accepted") && col("is_target"), 1L).otherwise(0L))
          .as("dropped_target"))
      .withColumn("kept_target_rate", rate(col("kept_target"), col("n_kept")))
      .withColumn("dropped_target_rate",
        rate(col("dropped_target"), col("n_dropped")))
      .withColumn("lift",
        when(col("dropped_target_rate") === 0.0, lit(null).cast(DoubleType))
          .otherwise(col("kept_target_rate") / col("dropped_target_rate")))
  }

  /** The corpus ENCODED by k BPE merge rounds — x60's loop returning the
    * sequences instead of the merge table: the tokenizer-apply half of
    * train→apply (a learned vocabulary is only useful if the engine can
    * run it back over the corpus at scale). Same per-round shape as
    * [[bpeMergeLoop]] (pair count → 1-row winner anchor → per-row fold,
    * persisted per round); docs too short to ever merge (< 2 tokens)
    * pass through unchanged rather than vanishing. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val base = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    var cur = ExtCaches.persistTracked(base.filter(size(col("t")) >= 2))
    (1 to k).foreach { _ =>
      cur = ExtCaches.persistTracked(applyTopMerge(cur, topPair(cur)))
    }
    cur.unionAll(base.filter(size(col("t")) < 2))
  }

  /** CCNet-style LM-perplexity quality gate (x108) in hash-gatable
    * INTEGER form — the one classic curation stage the pipeline surface
    * lacked: train a token-bigram language model on a reference slice,
    * score every held-out document by its average per-bigram surprise,
    * and gate on a threshold (Wenzek et al., CCNet: KenLM perplexity
    * deciles against a reference corpus; C4 and most production
    * pipelines run the same shape).
    *
    * Integerization — the halving-bucket trick applied to a CONDITIONAL
    * probability: −log₂ p(w₂|w₁) ≈ fl2(c(w₁·)+1) − fl2(c(w₁w₂)+1),
    * where fl2(x) = ⌊log₂ x⌋ = length(bin(x)) − 1 (exact integers on
    * both engines), c counts bigram OCCURRENCES in the base slice
    * (multiplicity — the LM sees every occurrence), and +1 is the
    * smoothing that makes an unseen bigram under a seen prefix cost the
    * full fl2(c₁+1) bits. An unseen PREFIX backs off to the model's
    * maximum surprise, fl2(N+1) bits (N = total base bigram mass) —
    * out-of-domain text must get MORE expensive, not free. Per-doc
    * score = Σ bits over its bigram occurrences (an integer sum —
    * shuffle-order-proof) and the reported average is fixed-point:
    * bits_x16 = (16·Σ) DIV n — zero float accumulation anywhere.
    *
    * Split discipline = x83's: the model trains on the hash-selected
    * base slice only and scores the REST (scoring the training slice
    * would reward memorization); docs with < 2 tokens have no bigrams
    * and are excluded (documented — a length gate catches them first).
    *
    * Scale shape: the count table is one groupBy over base bigram
    * occurrences; scoring is two equi-joins (bigram, then prefix) of
    * held-out occurrences against it, then one per-doc integer
    * aggregate. At 100 TB the count table gets a min-count prune
    * (standard KenLM practice) and either broadcasts (pruned vocab²)
    * or shuffle-joins on the bigram key; nothing here is corpus². */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String,
                     baseFrac: Double): DataFrame = {
    import org.apache.spark.sql.graftfn.ShingleArray
    val inBase = Sampling.hashThresholdPredicate(col(idCol), baseFrac)
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast(LongType)
    val occ = docs.select(col(idCol).as("id"), inBase.as("in_base"),
        explode(ShingleArray.shingleOccurrences(
          tokens(col(textCol)), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c12 = ExtCaches.persistTracked(
      occ.filter(col("in_base"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c12")))
    val c1 = c12
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val nAnchor = broadcast(c12.agg(sum(col("c12")).as("n_mass")))
    occ.filter(!col("in_base"))
      .join(c12, Seq("bg"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(nAnchor)
      .withColumn("bits",
        when(col("c1").isNull, fl2(col("n_mass") + 1L))
          .otherwise(fl2(col("c1") + 1L) -
            fl2(coalesce(col("c12"), lit(0L)) + 1L)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("nll_bits"))
      .select(col("id"), col("n_bigrams"), col("nll_bits"),
        expr("(16 * nll_bits) DIV n_bigrams").as("bits_x16"))
  }

  /** DSIR-style importance weights (x109, step 1 of 2) in hash-gatable
    * INTEGER form — Xie et al. 2023 ("Data Selection for Language Models
    * via Importance Resampling"): hash every unigram AND bigram
    * occurrence into `buckets` feature buckets, fit two bag-of-features
    * multinomials — p̂_target on the base slice's TARGET rows (the
    * reference corpus: here the x09 quality gate, the same weak signal
    * x80/x83 train on) and p̂_raw on the WHOLE base slice — and weight
    * each held-out document by its log importance ratio
    * log p̂_target(x)/p̂_raw(x) = Σ_occurrences (log p_t[b] − log p_r[b]).
    *
    * Integerization is [[bigramLmScores]]'s halving bucket applied to a
    * RATIO, with ONE floor per side of the full ratio: per occurrence
    * in bucket b,
    * λ[b] = fl2((c_t[b]+1)·(N_r+1)) − fl2((c_r[b]+1)·(N_t+1))
    * (fl2(x) = ⌊log₂ x⌋ = length(bin(x)) − 1, exact on both engines;
    * +1 smoothing; N_t/N_r the two models' total feature masses). The
    * four-floor decomposition fl2(c_t+1) − fl2(c_r+1) + fl2(N_r+1) −
    * fl2(N_t+1) was measured systematically ≈ −0.4 bits/occurrence
    * (each floor drops up to a bit, and they don't cancel), which
    * length-amplifies into an inverted signal — longer target docs
    * scored LOWER; the product form's two floors cancel in expectation
    * for a target-typical bucket ((c_t+1)(N_r+1) ≈ (c_r+1)(N_t+1) →
    * λ = 0), and the measured per-slice means flip to the correct
    * direction. Per-doc w_bits = Σ λ is a signed integer sum
    * (shuffle-order-proof) — the whole-doc log₂ importance weight. The
    * ×16 length-normalized diagnostic dodges negative-division engine
    * skew by shifting through the |λ| < 128 product bound:
    * w_x16 = (16·Σ(λ+128)) DIV n − 2048 — the only division is of
    * non-negative integers, where Spark DIV ≡ DuckDB //.
    * i64 bound: CODED since round 15 — [[dsirLambda]] normalizes each
    * product operand into [2³⁰, 2³¹) with its own shift and adds the
    * shifts back in log space, so the products stay < 2⁶² at any
    * corpus mass (DsirGuardSpec pins |Δλ| ≤ 1 bit vs BigInt-exact at
    * masses ≥ 2⁵⁰); at every gate scale the shifts are 0 and the form
    * is bit-identical.
    *
    * Split discipline = x83's: both models train on the hash-selected
    * base slice only and weigh the REST; the held-out rows' quality
    * labels play no part. Docs with zero tokens have no features and
    * are excluded (a length gate catches them first).
    *
    * Scale shape: the models are ≤ `buckets` rows BY CONSTRUCTION (the
    * hashing trick is DSIR's own scale device), so scoring is two
    * BROADCAST joins + one 1-row mass anchor over the held-out
    * occurrences — zero shuffles beyond the two map-side-combinable
    * training aggregates and the final per-doc sum. At 100 TB nothing
    * here is corpus²; the bucket count is the only memory knob. */
  /** One occurrence's integer log₂ importance, product form with the
    * 100 TB OVERFLOW GUARD coded (round-14 verdict #3 — it was a
    * scaladoc): each side is fl2prod(a, b) = fl2((a≫s_a)·(b≫s_b)) +
    * s_a + s_b with PER-OPERAND normalizing shifts s_x = max(0,
    * fl2(x) − 30) — both shifted operands land in [2³⁰, 2³¹) (or stay
    * exact when already below), so the product stays < 2⁶² at ANY
    * corpus mass, where the raw (c+1)·(N+1) wraps i64 once N
    * approaches 2³¹·⁵. Normalization only FLOORS mantissas, so each
    * side's fl2 can drop by at most 1 and never rise — DsirGuardSpec
    * pins |Δλ| ≤ 1 against BigInt-exact arithmetic at masses ≥ 2⁵⁰.
    * (A SHARED shift on all four operands is wrong: a tiny count under
    * a huge mass shifts to zero and loses unboundedly many bits —
    * measured 21 bits of drift before this spelling.) At every gate
    * scale all shifts are 0 and the form is bit-identical to the
    * unguarded product. Mirrored in the oracle's dsirCtes. */
  private[graft] def dsirLambda(cT: Column, cR: Column,
                                nT: Column, nR: Column): Column = {
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast(LongType)
    def shr(c: Column, s: Column): Column =
      call_function("shiftright", c,
        s.cast(org.apache.spark.sql.types.IntegerType))
    def fl2prod(a: Column, b: Column): Column = {
      val sa = greatest(lit(0L), fl2(a) - lit(30L))
      val sb = greatest(lit(0L), fl2(b) - lit(30L))
      fl2(shr(a, sa) * shr(b, sb)) + sa + sb
    }
    fl2prod(cT + 1L, nR + 1L) - fl2prod(cR + 1L, nT + 1L)
  }

  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetCol: String, baseFrac: Double,
                  buckets: Int): DataFrame = {
    import org.apache.spark.sql.graftfn.ShingleArray
    val inBase = Sampling.hashThresholdPredicate(col(idCol), baseFrac)
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast(LongType)
    val t = tokens(col(textCol))
    val occ = docs.select(col(idCol).as("id"), inBase.as("in_base"),
        col(targetCol).as("is_target"),
        explode(concat(ShingleArray.shingleOccurrences(t, 1),
          ShingleArray.shingleOccurrences(t, 2))).as("g"))
      .select(col("id"), col("in_base"), col("is_target"),
        (Planted.u16(concat(lit("dsirb|"), col("g"))) % buckets).as("bucket"))
    val ct = ExtCaches.persistTracked(
      occ.filter(col("in_base") && col("is_target"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c_t")))
    val cr = ExtCaches.persistTracked(
      occ.filter(col("in_base"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c_r")))
    val anchor = broadcast(
      ct.agg(coalesce(sum(col("c_t")), lit(0L)).as("n_t"))
        .crossJoin(cr.agg(coalesce(sum(col("c_r")), lit(0L)).as("n_r"))))
    occ.filter(!col("in_base"))
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"), "left")
      .crossJoin(anchor)
      .withColumn("lam",
        dsirLambda(coalesce(col("c_t"), lit(0L)),
          coalesce(col("c_r"), lit(0L)), col("n_t"), col("n_r")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lam")).as("w_bits"))
      .select(col("id"), col("n_feats"), col("w_bits"),
        expr("(16 * w_bits + 2048 * n_feats) DIV n_feats - 2048")
          .as("w_x16"))
  }

  /** DSIR importance RESAMPLING (x109, step 2 of 2): thin the held-out
    * pool with per-document probability proportional to its importance
    * weight — the Bernoulli form of the paper's resampling step, in
    * exact integer arithmetic. Acceptance probability is the
    * exponentiated log-weight, 2^(w_bits − T) clamped to [2⁻¹⁶, 1]
    * (sampling ∝ w(x) IS sampling ∝ 2^log₂w(x)): a doc at or above
    * `thresholdBits` is kept surely; each whole bit below HALVES the
    * keep probability: shift = min(16, max(0, T − w_bits)),
    * accept iff u16(salt‖id) < 2¹⁶ ≫ shift — the x21/x27 hash-threshold
    * draw, so the selection is a pure function of (id, weight):
    * re-runs, backfills and appends keep exactly the same rows. The
    * whole-bit acceptance grid is the price of engine-exact
    * integerization (same honesty as [[bigramLmScores]]'s bit-granular
    * surprise); the published form draws Gumbel top-k without
    * replacement — same weights, different thinning schedule. */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   targetCol: String, baseFrac: Double, buckets: Int,
                   thresholdBits: Long, salt: String = "dsirk|"): DataFrame =
    dsirWeights(docs, idCol, textCol, targetCol, baseFrac, buckets)
      .withColumn("shift",
        expr(s"least(16L, greatest(0L, $thresholdBits - w_bits))"))
      .withColumn("accepted",
        Planted.u16(concat(lit(salt), col("id").cast("string"))) <
          expr("65536 DIV shiftleft(1L, cast(shift as int))"))

  /** DSIR top-k thinning (x109b) — the paper's WITHOUT-REPLACEMENT
    * schedule over the same integer weights (Xie et al. resample k docs
    * via Gumbel top-k over log importance; [[dsirResample]] is the
    * Bernoulli form): keep exactly the global budget K = ⌈keepFrac·n⌉
    * best documents ordered by (w_bits DESC, u16 hash draw, id) — at
    * whole-bit weight granularity the Gumbel keys collapse to exactly
    * this ordering WITHIN the budget (strictly heavier docs always
    * outrank lighter ones; the uniform hash draw is the tie-break the
    * paper's i.i.d. noise provides inside a weight class). The
    * difference from the published form — true Gumbel noise would
    * occasionally promote a lighter doc over a heavier one — is the
    * price of engine-exact integers, same honesty as the Bernoulli
    * form's power-of-two grid.
    *
    * Scale shape (the fleet gate forbids an unpartitioned window over
    * un-reduced input): the global rank DECOMPOSES TWICE — a tiny
    * w_bits histogram (|distinct w_bits| rows — the weights span a few
    * dozen bits BY CONSTRUCTION) gets the running count of
    * strictly-heavier classes via a window over the reduced relation;
    * then, because at 100 TB the budget-crossing bit class can by
    * itself hold a corpus-scale row count, a SECOND histogram over
    * (w_bits, draw) gets the running count of strictly-smaller draws
    * within each class (window over the reduced cell relation,
    * partitioned by w_bits), and the only window that touches the
    * un-reduced pool is partitioned by the FULL (w_bits, draw) cell —
    * expected n/2¹⁶ docs per cell within a class (round-15 verdict #2;
    * the id-ordered row_number inside one equal-draw cell is the
    * irreducible tie-break, the same honesty as the draw itself).
    * rank-in-class = cell offset + row_number-in-cell is provably the
    * (draw, id) rank the one-level form computed — the selection is
    * bit-identical (DsirBoundarySpec pins it on a degenerate corpus
    * whose every doc shares one bit class). keepFrac
    * must be dyadic (2⁻¹ at the gate) so ⌈n·keepFrac⌉ is float-exact
    * on both engines. */
  def dsirTopK(docs: DataFrame, idCol: String, textCol: String,
               targetCol: String, baseFrac: Double, buckets: Int,
               keepFrac: Double, salt: String = "dsirg|"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = ExtCaches.persistTracked(
      dsirWeights(docs, idCol, textCol, targetCol, baseFrac, buckets)
        .withColumn("draw",
          Planted.u16(concat(lit(salt), col("id").cast(StringType)))))
    val hist = w.groupBy(col("w_bits")).agg(count(lit(1)).as("n_bits"))
    val above = Window.orderBy(col("w_bits").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("w_bits"),
      coalesce(sum(col("n_bits")).over(above), lit(0L)).as("n_above"))
    val total = hist.agg(sum(col("n_bits")).as("n_pool"))
    // second-level decomposition: cell histogram + within-class running
    // offset over the REDUCED cells, so the corpus-sized window below
    // partitions by the full (w_bits, draw) cell
    val cells = w.groupBy(col("w_bits"), col("draw"))
      .agg(count(lit(1)).as("n_cell"))
    val aboveInClass = Window.partitionBy(col("w_bits"))
      .orderBy(col("draw"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellOff = cells.select(col("w_bits"), col("draw"),
      coalesce(sum(col("n_cell")).over(aboveInClass), lit(0L))
        .as("n_above_cell"))
    val inCell = Window.partitionBy(col("w_bits"), col("draw"))
      .orderBy(col("id"))
    w.join(broadcast(cellOff), Seq("w_bits", "draw"))
      .withColumn("rnk",
        col("n_above_cell") + row_number().over(inCell).cast(LongType))
      .join(broadcast(cum), Seq("w_bits"))
      .crossJoin(broadcast(total))
      .withColumn("k_budget",
        ceil(col("n_pool") * lit(keepFrac)).cast(LongType))
      .withColumn("accepted", col("n_above") + col("rnk") <= col("k_budget"))
      .select(col("id"), col("n_feats"), col("w_bits"), col("draw"),
        col("accepted"))
  }

  /** DSIR thinning under a TOKEN budget (x109c) — the denominator a
    * training run actually has: fill the budget greedily down the same
    * (w_bits DESC, draw, id) importance order as [[dsirTopK]], keeping
    * each document iff the INCLUSIVE running token mass still fits
    * (prefix-truncate — the boundary-straddling doc is dropped and
    * smaller later docs are NOT back-filled: budget fill is a prefix
    * rule, not a knapsack). Budget = ⌈budgetFrac · pool token mass⌉
    * with budgetFrac dyadic, so the ceil is float-exact cross-engine.
    * Token currency is the corpus word count ([[tokens]] — x34's
    * budget currency); [[dsirTokenBudgetWith]] is the learned-count
    * variant that plugs x113's n_tokens in (gated end to end by x115
    * since round 16).
    *
    * Scale shape = [[dsirBudgetFill]]'s two-level decomposition with
    * masses instead of counts: bit-class histogram offset + (w_bits,
    * draw) cell offset + within-CELL running mass — no unpartitioned
    * window ever sees the un-reduced pool, and no partition is ever
    * larger than one equal-draw cell of one bit class. */
  def dsirTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                      targetCol: String, baseFrac: Double, buckets: Int,
                      budgetFrac: Double, salt: String = "dsirg|")
      : DataFrame = {
    val tk = docs.select(col(idCol).as("id"),
      size(tokens(col(textCol))).cast(LongType).as("n_tokens"))
    dsirBudgetFill(
      dsirWeights(docs, idCol, textCol, targetCol, baseFrac, buckets)
        .withColumn("draw",
          Planted.u16(concat(lit(salt), col("id").cast(StringType))))
        .join(tk, Seq("id")),
      budgetFrac)
  }

  /** The budget-fill selection over an arbitrary weighted pool — the
    * shared tail of [[dsirTokenBudget]] (whitespace-word currency) and
    * [[dsirTokenBudgetWith]] (x115's LEARNED x113 token currency).
    * `pool` carries (id, n_feats, w_bits, draw, n_tokens); each doc is
    * kept iff the inclusive running mass down (w_bits DESC, draw, id)
    * still fits ⌈budgetFrac · pool mass⌉ — prefix-truncate, not a
    * knapsack. Scale decomposition = [[dsirTopK]]'s two-level form
    * with masses instead of counts (round-15 verdict #2): bit-class
    * mass histogram offset (window over the reduced class relation) +
    * per-(w_bits, draw) cell-mass offset (window over the reduced cell
    * relation, partitioned by w_bits) + within-CELL inclusive running
    * sum — the only window on the un-reduced pool partitions by the
    * full cell, expected n/2¹⁶ docs within a class. Integer prefix
    * masses regroup associatively, so cum_incl is bit-identical to the
    * one-level form (DsirBoundarySpec pins it on a single-bit-class
    * corpus). */
  private[graft] def dsirBudgetFill(pool: DataFrame,
                                    budgetFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = ExtCaches.persistTracked(pool)
    val hist = w.groupBy(col("w_bits"))
      .agg(sum(col("n_tokens")).as("mass_bits"))
    val above = Window.orderBy(col("w_bits").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("w_bits"),
      coalesce(sum(col("mass_bits")).over(above), lit(0L)).as("mass_above"))
    val total = hist.agg(sum(col("mass_bits")).as("pool_mass"))
    val cells = w.groupBy(col("w_bits"), col("draw"))
      .agg(sum(col("n_tokens")).as("mass_cell"))
    val aboveInClass = Window.partitionBy(col("w_bits"))
      .orderBy(col("draw"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cellOff = cells.select(col("w_bits"), col("draw"),
      coalesce(sum(col("mass_cell")).over(aboveInClass), lit(0L))
        .as("mass_above_cell"))
    val inCell = Window.partitionBy(col("w_bits"), col("draw"))
      .orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w.join(broadcast(cellOff), Seq("w_bits", "draw"))
      .withColumn("cum_incl",
        col("mass_above_cell") + sum(col("n_tokens")).over(inCell))
      .join(broadcast(cum), Seq("w_bits"))
      .crossJoin(broadcast(total))
      .withColumn("budget",
        ceil(col("pool_mass") * lit(budgetFrac)).cast(LongType))
      .withColumn("accepted",
        col("mass_above") + col("cum_incl") <= col("budget"))
      .select(col("id"), col("n_feats"), col("w_bits"), col("draw"),
        col("n_tokens"), col("accepted"))
  }

  /** DSIR token-budget thinning with an EXTERNAL token currency and an
    * EXTERNAL pool restriction — the x115 composition closing the
    * scaladoc variant [[dsirTokenBudget]] documents: the budget a
    * training run actually spends is billed in the MODEL's learned
    * token counts (x113's `n_tokens` — the number the loader packs
    * against), not the whitespace-word approximation, and the pool is
    * the survivor set of the upstream curation gates (the x108 LM
    * gate), not the whole held-out slice. Same weights, same draw,
    * same fill rule as [[dsirTokenBudget]]:
    *  - `tokenCounts` — (id, n_tokens): the per-doc currency relation
    *    (x115 passes the frozen-vocab encoder's output);
    *  - `poolIds` — (id): the docs eligible for filling; the join is a
    *    left-semi, so membership is a filter, never a fan-out.
    * Budget = ⌈budgetFrac · Σ n_tokens over the RESTRICTED pool⌉ —
    * the denominator a budget means after gating.
    *
    * Scale shape: [[dsirWeights]]' broadcast-model scoring + two
    * equi-joins on the doc id (the currency relation and the semi-join
    * filter — both corpus-partitioned, no new shuffle class) +
    * [[dsirBudgetFill]]'s histogram decomposition. */
  def dsirTokenBudgetWith(docs: DataFrame, idCol: String, textCol: String,
                          targetCol: String, baseFrac: Double, buckets: Int,
                          budgetFrac: Double, tokenCounts: DataFrame,
                          poolIds: DataFrame, salt: String = "dsirg|")
      : DataFrame =
    dsirBudgetFill(
      dsirWeights(docs, idCol, textCol, targetCol, baseFrac, buckets)
        .withColumn("draw",
          Planted.u16(concat(lit(salt), col("id").cast(StringType))))
        .join(tokenCounts, Seq("id"))
        .join(poolIds, Seq("id"), "left_semi"),
      budgetFrac)
}
