package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.ops.TopK

/** Hybrid (lexical + vector) retrieval with reciprocal-rank fusion — the
  * standard production shape for RAG-style corpus search: a sparse arm
  * (shingle-overlap ranking off an inverted index; the BM25 slot) and a
  * dense arm (embedding cosine top-k; the ANN slot) each retrieve a
  * shortlist, and the lists are fused by RRF (Cormack/Clarke/Buettcher,
  * SIGIR'09): score(d) = Σ_arms 1/(C + rank_arm(d)), missing-from-arm
  * contributing 0. RRF needs no score calibration between arms — only
  * ranks — which is exactly why it is the default fusion in hybrid
  * search engines.
  *
  * Determinism (the reason RRF, not weighted-score fusion, is the
  * oracle-gated form): each arm's rank is an integer with a total
  * deterministic order (count/cosine desc, id tiebreak); 1/(C+rank) is
  * ONE correctly-rounded IEEE divide on exactly-representable operands,
  * and the fused score is ONE two-term sum — bit-identical in any engine
  * that evaluates the same two terms, with no order-of-accumulation
  * hazard (two-term IEEE addition is symmetric).
  *
  * Scale shape: the lexical arm is an inverted-index equi-join — query
  * shingles (|queries|·shingles/doc rows, broadcast) probe the corpus
  * index, so cost ∝ posting-list mass of the query terms, with the
  * df-cap knob dropping stop-shingles exactly as in
  * [[Dedup.shingleIndex]]. The dense arm broadcasts the query vectors
  * and scans the corpus once (the x06 baseline; a deployment swaps in
  * any of the IVF variants — the fusion is rank-only, so the arm is
  * pluggable). The fusion itself is a full-outer equi-join of two
  * ≤ |queries|·armK row shortlists — negligible at any scale.
  */
object Retrieval {

  /** Top-`k` fused results per query.
    *
    * @param docs    corpus documents (idCol, textCol, …)
    * @param embs    corpus embeddings (vecIdCol, vecCol); the ranked
    *                universe is docs ∩ embs (both arms must rank the
    *                same corpus or ranks are incomparable)
    * @param queries query doc ids (any DataFrame bearing `docIdCol`);
    *                must be broadcast-small
    * @param armK    shortlist depth of EACH arm before fusion
    * @param rrfC    the RRF smoothing constant (60 in the paper)
    * @param dfCap   optional stop-shingle document-frequency cap for the
    *                lexical index (the 100 TB knob)
    * Output: (q_id, doc_id, lex_rnk, vec_rnk, rrf, rnk) — arm ranks are
    * null when the doc was retrieved by the other arm only.
    */
  /** Dense-arm contract: (corpusVecs(id, vec), queryVecs(id, vec), armK)
    * → (q_id, id, vec_rnk ≤ armK). The fusion consumes only ranks, so
    * any ANN variant satisfies it; an arm may return FEWER than armK
    * rows per query (an IVF arm ranks only probed-cell members) — the
    * full-outer fusion treats absence as a zero term, which is RRF's
    * defined semantics for missing-from-arm. */
  type DenseArm = (DataFrame, DataFrame, Int) => DataFrame

  /** The x06 exact-cosine baseline arm (the oracle-gated default). */
  val bruteArm: DenseArm = (corpus, queries, armK) =>
    Similarity.bruteForceTopK(corpus, queries, "id", "vec", armK)
      .select(col("q_id"), col("c_id").as("id"), col("rnk").as("vec_rnk"))

  /** `idfWeighted`: the BM25-lite lexical arm (x87). The shared-shingle
    * COUNT ranks a document by how many query shingles it carries —
    * which on a boilerplate corpus means every document ties on the
    * header terms and the df-cap knob must DROP them (a cliff: a term is
    * either fully counted or gone, and the cap's threshold must be
    * re-measured per corpus — SCALING_BOILER.md priced that honestly).
    * BM25's answer is smooth idf damping, and its hash-gatable form is
    * integer halving-buckets: weight(t) = max(1, ⌊log₂ N⌋ − ⌊log₂ df(t)⌋
    * + 1) — exactly representable on both engines as
    * `length(bin(N)) − length(bin(df)) + 1` (no libm, no floats), a
    * staircase of log₂(N/df) + 1. A unique shingle carries ⌊log₂ N⌋ + 1;
    * a header term at df = N carries 1 — damped, never dropped, with NO
    * per-corpus threshold to tune: the weight adapts through N. The
    * ranking score is the integer Σ weights over the shared shingles;
    * the tf saturation and length-normalization terms of full BM25 are
    * deliberately absent here (distinct-shingle sets have tf = 1, and
    * the corpus generator emits uniform lengths — the knobs have nothing
    * to act on); on the corpus class where they DO act, the full
    * saturated form is gated as its own registry line — see
    * [[lexRelevanceLadder]] (x105) and Bm25KnobSpec. */
  def hybridRrfTopK(docs: DataFrame, embs: DataFrame, queries: DataFrame,
                    docIdCol: String, textCol: String,
                    vecIdCol: String, vecCol: String,
                    armK: Int, k: Int, rrfC: Int = 60, w: Int = 3,
                    dfCap: Option[Int] = None,
                    idfWeighted: Boolean = false,
                    denseArm: DenseArm = bruteArm): DataFrame = {
    val (lex, vec) = hybridArms(docs, embs, queries, docIdCol, textCol,
      vecIdCol, vecCol, armK, w, dfCap, idfWeighted, denseArm)
    val rrf =
      coalesce(lit(1.0) / (lit(rrfC.toDouble) + col("lex_rnk").cast(DoubleType)), lit(0.0)) +
      coalesce(lit(1.0) / (lit(rrfC.toDouble) + col("vec_rnk").cast(DoubleType)), lit(0.0))
    TopK.perGroup(lex.join(vec, Seq("q_id", "id"), "full_outer").withColumn("rrf", rrf),
        Seq(col("q_id")), Seq(desc("rrf"), col("id")), k)
      .select(col("q_id"), col("id").as("doc_id"),
        col("lex_rnk"), col("vec_rnk"), col("rrf"), col("rnk"))
  }

  /** The two PERSISTED arm shortlists of [[hybridRrfTopK]], exposed
    * (round 17) so a multi-configuration harness (x98) can fuse several
    * arm pairs in ONE rank pass over a tagged union instead of one
    * window + aggregate tower per configuration — the shortlists and
    * their caching are exactly the fusion's (same spelling, same
    * CacheManager dedupe across sibling configurations). */
  private[graft] def hybridArms(docs: DataFrame, embs: DataFrame,
                    queries: DataFrame,
                    docIdCol: String, textCol: String,
                    vecIdCol: String, vecCol: String,
                    armK: Int, w: Int = 3,
                    dfCap: Option[Int] = None,
                    idfWeighted: Boolean = false,
                    denseArm: DenseArm = bruteArm)
      : (DataFrame, DataFrame) = {
    val embIds = embs.select(col(vecIdCol).as("id"))
    // ranked universe: documents that have an embedding
    val corpusDocs = docs.select(col(docIdCol).as("id"), col(textCol).as("text"))
      .join(embIds, Seq("id"), "left_semi")
    val qIds = queries.select(col(docIdCol).as("q_id"))
      .join(embIds.select(col("id").as("q_id")), Seq("q_id"), "left_semi")

    // -- sparse arm: shared-shingle count off the inverted index --------
    val idx = ExtCaches.persistTracked(
      Dedup.shingleIndex(corpusDocs, "id", "text", w, dfCap))
    val qShingles = idx.join(broadcast(qIds), idx("id") === qIds("q_id"))
      .select(col("q_id"), col("shingle"))
    val lexHits = broadcast(qShingles).join(idx, Seq("shingle"))
      .filter(col("id") =!= col("q_id"))
    val lexScored =
      if (!idfWeighted)
        lexHits.groupBy(col("q_id"), col("id"))
          .agg(count(lit(1)).as("n_common"))
      else {
        // per-shingle df off the same stored index; N = ranked universe
        // size as a 1-row broadcast anchor. length(bin(x)) - 1 = floor
        // log2 x, exact integers on both engines.
        val dfRel = idx.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df"))
        val nAnchor = broadcast(corpusDocs.agg(count(lit(1)).as("n_universe")))
        lexHits.join(dfRel, Seq("shingle"))
          .crossJoin(nAnchor)
          .withColumn("idf_w", greatest(lit(1L),
            (length(bin(col("n_universe"))) - length(bin(col("df"))) + 1)
              .cast(LongType)))
          .groupBy(col("q_id"), col("id"))
          .agg(sum(col("idf_w")).as("n_common"))
      }
    // Both arm shortlists persist (round 16): a shortlist is ≤
    // |queries|·armK rows — broadcast-small at any scale — and the
    // persist makes value-identical arms across SIBLING fusions one
    // cache entry (the CacheManager dedupes on the canonical plan):
    // x98's arms 1/2/3 share this count-lex shortlist and arms 1/4 the
    // brute dense one, so the shared ranking executes once instead of
    // per arm (x98: four fusions previously re-ranked the same arm
    // relations; 231-Exchange plan, 15.6 s → see OPTIMIZATION_r16.md).
    val lex = ExtCaches.persistTracked(TopK.perGroup(lexScored, Seq(col("q_id")),
        Seq(desc("n_common"), col("id")), armK, "lex_rnk")
      .select(col("q_id"), col("id"), col("lex_rnk")))

    // -- dense arm: exact cosine top-k over the same universe -----------
    val corpusVecs = embs.select(col(vecIdCol).as("id"), col(vecCol).as("vec"))
      .join(corpusDocs.select(col("id")), Seq("id"), "left_semi")
    val qVecs = corpusVecs.join(broadcast(qIds),
        corpusVecs("id") === qIds("q_id"))
      .select(col("id"), col("vec"))
    val vec = ExtCaches.persistTracked(denseArm(corpusVecs, qVecs, armK))
    (lex, vec)
  }

  // ---- x105: the stuffed-corpus integer-BM25 ladder ------------------------

  /** Stuffing constants (mirrored by the oracle CTE in
    * graft.queries.Extensions): the corpus's [[StuffTopK]] most-frequent
    * tokens, each repeated [[StuffReps]] times, appended to
    * 1-in-[[StuffModulo]] docs by portable hash — repeated tokens AND
    * ~4× length variance, the corpus class where BM25's tf-saturation
    * and length-norm terms stop being moot (Bm25KnobSpec; PLANS.md
    * "BM25 knobs on a non-degenerate corpus"). */
  val StuffTopK = 20
  val StuffReps = 8
  val StuffModulo = 4L
  /** Fixed-point scale of the saturated-tf term — 2^20, the engine's
    * standard quantization scale class (Similarity.Scale). */
  val SatScale: Long = 1L << 20

  /** Deterministic token-stuffed corpus: (idCol, textCol) with
    * 1/StuffModulo of docs carrying the global top-StuffTopK tokens
    * appended StuffReps times each, in (count DESC, token) order.
    * Bm25KnobSpec prices the knobs on this same corpus. The stuffing
    * STRING is order-deterministic — collect_list order is not
    * guaranteed, so the (negated-count, token) structs are array_sorted
    * before the repeat/flatten — because the gated scoring runs at
    * SHINGLE granularity, where the stuffing's token order changes the
    * shingle multiset and a nondeterministic order would hash-flap. */
  def stuffedDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val stuffing = broadcast(
      counts.orderBy(desc("n"), col("token")).limit(StuffTopK)
        .agg(concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct((-col("n")).as("nn"),
            col("token").as("token")))),
          s => array_repeat(s.getField("token"), StuffReps)))).as("stuffing")))
    docs.crossJoin(stuffing)
      .select(col(idCol),
        when(Planted.u16(concat(lit("stuff|"), col(idCol).cast(StringType)))
            % StuffModulo === 0L,
          concat_ws(" ", col(textCol), col("stuffing")))
          .otherwise(col(textCol)).as(textCol))
  }

  /** The full BM25 lexical ladder in INTEGER form under the planted twin
    * ground truth (x105) — the hash-gatable completion of the x87 design
    * note: x87 ships idf damping only (tf = 1 and uniform lengths make
    * the other knobs moot on the registry corpus); on the STUFFED corpus
    * they matter, and this scores all three arms over one tf index:
    *
    *   1_count    — shared-shingle-TYPE count (x79's lexical form);
    *   2_idf      — Σ halving-bucket idf weights (x87's integer damping);
    *   3_bm25_sat — Σ idf_w · satTf, the Robertson tf-saturation +
    *                length-norm term at k1 = 6/5, b = 3/4 in EXACT
    *                integer arithmetic: satTf = tf(k1+1) / (tf +
    *                k1(1−b) + k1·b·dl·N/S) multiplied through by 10·S
    *                = 22·tf·S / (10·tf·S + 3·S + 9·dl·N), then ONE
    *                2^20-scaled integer division (both engines' DIV
    *                truncates; operands positive) — a quantized
    *                saturation staircase both engines replay bit-for-bit,
    *                where the float spelling would be an
    *                order-of-accumulation hazard (Σ of per-term doubles).
    *
    * Integer envelope: sat_num = 2^20·22·tf·S ≤ 2^25·tf·S — safe in
    * int64 to S·tf ≈ 2.7e11 (the gated corpora sit at S ≈ 10^6–10^7,
    * tf ≤ ~10²). Scoring is tf-weighted at shingle granularity with
    * multiplicity ([[org.apache.spark.sql.graftfn.ShingleArray
    * .shingleOccurrences]]) so saturation has something to saturate.
    * Output: one (arm, n_queries, hits_at_1, hits_at_k, hit_rate) row
    * per arm — a hit is the query's own twin in the arm's top ranks.
    * Scale shape: one inverted-index equi-join (cost ∝ posting mass of
    * the query terms — the stuffed shingles' lists are the point), two
    * broadcast 1-row anchors (N, S), three rank windows over one cached
    * (q_id, id) score relation. */
  def lexRelevanceLadder(corpus: DataFrame, idCol: String, textCol: String,
                         nQueries: Int, armK: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.graftfn.ShingleArray
    val udocs = corpus.unionByName(
      Relevance.twinDocs(corpus, idCol, textCol, nQueries))
    val occ = udocs.select(col(idCol).as("id"),
      explode(ShingleArray.shingleOccurrences(
        TextOps.tokens(col(textCol)), 3)).as("shingle"))
    val tf = ExtCaches.persistTracked(
      occ.groupBy(col("id"), col("shingle")).agg(count(lit(1)).as("tf")))
    val dlen = tf.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    val nAnchor = broadcast(udocs.agg(count(lit(1)).as("n_docs")))
    val sAnchor = broadcast(tf.agg(sum(col("tf")).as("s_total")))
    val dfRel = tf.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val qTf = tf.filter(col("id") < nQueries)
      .select(col("id").as("q_id"), col("shingle"))
    val hits = qTf.join(tf, Seq("shingle"))
      .filter(col("id") =!= col("q_id"))
      .join(dfRel, Seq("shingle"))
      .crossJoin(nAnchor).crossJoin(sAnchor)
      .join(dlen, Seq("id"))
      .withColumn("idf_w", greatest(lit(1L),
        (length(bin(col("n_docs"))) - length(bin(col("df"))) + 1)
          .cast(LongType)))
      .withColumn("sat_num",
        lit(SatScale) * lit(22L) * col("tf") * col("s_total"))
      .withColumn("sat_den",
        lit(10L) * col("tf") * col("s_total") + lit(3L) * col("s_total") +
          lit(9L) * col("dl") * col("n_docs"))
      .withColumn("sat_tf", expr("sat_num DIV sat_den"))
    val scored = ExtCaches.persistTracked(
      hits.groupBy(col("q_id"), col("id"))
        .agg(count(lit(1)).cast(LongType).as("s_count"),
          sum(col("idf_w")).cast(LongType).as("s_idf"),
          sum(col("idf_w") * col("sat_tf")).cast(LongType).as("s_bm25")))
    val nQ = broadcast(
      corpus.filter(col(idCol) < nQueries).agg(count(lit(1)).as("n_queries")))
    // ONE multi-arm rank pass (round 17 — the x98 fusion discipline):
    // the three arms previously ran one rank window + ungrouped
    // aggregate tower each over the same cached score relation; they
    // differ only in WHICH score column orders the window, so a tagged
    // union with `score` selected per arm and one window partitioned by
    // (arm, q_id) produces the identical per-arm ranks (same ordering
    // expressions within each partition), and one grouped aggregate
    // replaces the three. The static arm list left-joins the counts so
    // an arm with no surviving rows still emits its zero row (the
    // ungrouped aggregate's semantics, preserved).
    val arms = Seq("1_count" -> "s_count", "2_idf" -> "s_idf",
      "3_bm25_sat" -> "s_bm25")
    val tagged = arms.map { case (name, scoreCol) =>
      scored.select(lit(name).as("arm"), col("q_id"), col("id"),
        col(scoreCol).as("score"))
    }.reduce(_.unionByName(_))
    val isTwin = col("id") === col("q_id") + Relevance.TwinIdOffset
    val armCounts = TopK.perGroup(tagged, Seq(col("arm"), col("q_id")),
        Seq(desc("score"), col("id")), armK)
      .groupBy(col("arm"))
      .agg(count(when(isTwin && col("rnk") === 1L, lit(1))).as("hits_at_1"),
        count(when(isTwin && col("rnk") <= k, lit(1))).as("hits_at_k"))
    import scored.sparkSession.implicits._
    arms.map(_._1).toDF("arm")
      .join(armCounts, Seq("arm"), "left")
      .crossJoin(nQ)
      .select(col("arm"), col("n_queries"),
        coalesce(col("hits_at_1"), lit(0L)).cast(LongType).as("hits_at_1"),
        coalesce(col("hits_at_k"), lit(0L)).cast(LongType).as("hits_at_k"),
        (coalesce(col("hits_at_k"), lit(0L)).cast(DoubleType) /
          col("n_queries").cast(DoubleType)).as("hit_rate"))
      .orderBy(col("arm"))
  }
}
