package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.Cdc
import graft.streaming.EventStreams
import graft.tables.Tables

/** lexical/hybrid retrieval, RRF fusion, BM25 ladder and retrieval-relevance gates — split from the former monolithic Extensions.scala
  * (round 14, pure mechanical move; one object still unions every
  * family — see [[Extensions]]). Registry slices are DEFS, not vals:
  * they are evaluated once at union time in Extensions' constructor,
  * AFTER every mixed-in trait's constants are initialized, so the
  * oracle strings may interpolate any family's constants safely. */
private[queries] trait ExtRetrievalGates { this: ExtCore =>


  /** Hybrid lexical+vector retrieval with RRF fusion (x79): the sparse
    * arm ranks by shared-shingle count off the inverted index, the dense
    * arm by exact cosine (the x06 baseline — pluggable for any IVF
    * variant since fusion consumes only ranks), and reciprocal-rank
    * fusion merges the shortlists. The ranked universe is documents ∩
    * embeddings so the two arms rank the same corpus. Both arm depths
    * and the fused depth come from shared constants interpolated into
    * the oracle. */
  def x79_hybrid_rrf(s: SparkSession, dir: String): DataFrame =
    graft.ext.Retrieval.hybridRrfTopK(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") < QuerySetSize),
        "doc_id", "text", "vec_id", "embedding",
        armK = HybridArmK, k = HybridTopK, rrfC = RrfC)
      .orderBy(col("q_id"), col("rnk"))


  /** Hybrid RRF with the SCALE-PATH dense arm (x84): x79's fusion with
    * the trained-cells IVF×SQ8 search (x73) in the dense slot instead
    * of the exact brute scan — the pluggable-arm claim made an
    * oracle-gated fact, and the form whose plan is pure equi-joins (no
    * whitelisted BNLJ: the fleet gate covers x84 with no exemption).
    * The IVF arm may return fewer than armK rows per query (it ranks
    * only probed-cell members); RRF's full-outer fusion treats absence
    * as a zero term, so the operator also exercises the missing-arm
    * path at every scale.
    *
    * Precondition (asserted loudly, the x59 discipline — but LAZY, in
    * the plan itself): the oracle's dense chain quantizes and trains
    * over the FULL embeddings table, so the docs ∩ embs universe must
    * equal embeddings — i.e. every embedded id has a document. True of
    * every driver corpus; a future corpus violating it fails with this
    * message instead of an opaque hash mismatch. The guard is an
    * `assert_true` over the anti-join's 1-row count anchor, cross-joined
    * into the result (the allowlisted 1-row broadcast form), so merely
    * CONSTRUCTING the DataFrame costs nothing — PlanSpec's fleet plan
    * sweep enumerates the registry without paying a Spark job here (the
    * round-10 advice fix), and the check runs exactly when the query
    * does. At 100 TB the full anti-join per run is the knob to revisit:
    * swap `embs` below for a [[Sampling.hashThresholdPredicate]] slice
    * (a probabilistic tripwire) and keep the exhaustive form as a
    * corpus-onboarding check — the guard's message is the contract, not
    * its sampling rate. */
  /** The lazy 1-row-anchor orphan guard shared by the trained-arm
    * hybrids (x84, x88): asserts embeddings ⊆ documents inside the plan
    * (see x84's Scaladoc for the precondition and the 100 TB sampling
    * knob). Cross-join the result in, filter on the always-NULL
    * assert column, drop it. */
  private[graft] def orphanGuard(docs: DataFrame, embs: DataFrame,
                                 op: String): DataFrame =
    broadcast(
      embs.select(col("vec_id").as("doc_id"))
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(assert_true(col("n_orphans") === 0L,
          concat(lit(s"$op oracle precondition violated: "), col("n_orphans"),
            lit(" embeddings lack a document row — the oracle trains its " +
              "index over ALL embeddings while the engine restricts to " +
              "docs ∩ embs. Restrict the oracle's qv CTE to the " +
              "semi-joined universe before scaling this gate.")))
          .as("precondition_ok")))


  def x84_hybrid_rrf_ivf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val embs = Tables.embeddings(s, dir)
    graft.ext.Retrieval.hybridRrfTopK(
        docs, embs, docs.filter(col("doc_id") < QuerySetSize),
        "doc_id", "text", "vec_id", "embedding",
        armK = HybridArmK, k = HybridTopK, rrfC = RrfC,
        denseArm = (corpus, queries, armK) =>
          Similarity.ivfSq8TopKScaled(Similarity.ivfFront(corpus, "id",
              "vec", sharedCellStats(s, dir), ScaledNprobe), corpus, queries,
              "id", "vec", k = armK)
            .select(col("q_id"), col("c_id").as("id"),
              col("rnk").as("vec_rnk")))
      .crossJoin(orphanGuard(docs, embs, "x84"))
      .filter(col("precondition_ok").isNull)
      .drop("precondition_ok")
      .orderBy(col("q_id"), col("rnk"))
  }


  /** Hybrid RRF with the IVF×PQ dense arm (x88) — the round-10 verdict's
    * "plug x76 into the DenseArm contract": the COMPRESSED production
    * index (trained-cell probes in front of the PQ-ADC tail, the full
    * x76 composition) serving retrieval end to end. x84 proved the arm
    * pluggable with IVF×SQ8; this closes the loop with the form a
    * 100 TB deployment actually stores (m×codes bytes per vector
    * instead of the full embedding). Rank-only fusion means the ADC
    * scores never need calibration against the lexical arm — exactly
    * why RRF is the fusion here. Same orphan precondition as x84 (the
    * oracle trains cells AND codebooks over all embeddings). */
  def x88_hybrid_rrf_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val embs = Tables.embeddings(s, dir)
    graft.ext.Retrieval.hybridRrfTopK(
        docs, embs, docs.filter(col("doc_id") < QuerySetSize),
        "doc_id", "text", "vec_id", "embedding",
        armK = HybridArmK, k = HybridTopK, rrfC = RrfC,
        denseArm = (corpus, queries, armK) =>
          Similarity.ivfPqTopK(Similarity.ivfFront(corpus, "id", "vec",
              sharedCellStats(s, dir), ScaledNprobe), queries, "id",
              k = armK, m = PqM, codes = PqCodes,
              pqState = sharedPqState(s, dir))
            .select(col("q_id"), col("c_id").as("id"),
              col("rnk").as("vec_rnk")))
      .crossJoin(orphanGuard(docs, embs, "x88"))
      .filter(col("precondition_ok").isNull)
      .drop("precondition_ok")
      .orderBy(col("q_id"), col("rnk"))
  }


  /** Hybrid RRF with the BM25-lite lexical arm (x87): x79's fusion with
    * idf-damped shingle weights in the lexical slot — the production
    * ranking form the round-10 boilerplate soak named but didn't build
    * (its conclusion: "BM25 idf damps header terms smoothly" where the
    * df-cap is a drop-or-keep cliff needing a per-corpus threshold).
    * The weight is the integer halving-bucket staircase of BM25's idf:
    * max(1, ⌊log₂N⌋ − ⌊log₂df⌋ + 1), exact on both engines via
    * length(bin(·)) — no libm, no threshold knob, adapts through N. See
    * [[graft.ext.Retrieval.hybridRrfTopK]] (`idfWeighted`); the dense
    * arm stays the x06 baseline so x79 vs x87 isolates the lexical
    * change. SCALING_BOILER.md prices the damping on the header-term
    * corpus. */
  def x87_hybrid_rrf_bm25(s: SparkSession, dir: String): DataFrame =
    graft.ext.Retrieval.hybridRrfTopK(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") < QuerySetSize),
        "doc_id", "text", "vec_id", "embedding",
        armK = HybridArmK, k = HybridTopK, rrfC = RrfC,
        idfWeighted = true)
      .orderBy(col("q_id"), col("rnk"))


  /** Stuffed-corpus integer BM25 ladder (x105) — the round-12 verdict's
    * #5 resolved as a GATE, not a documented decision: the registry
    * corpus makes tf-saturation and length-norm moot (tf = 1, uniform
    * lengths — x87 ships idf-only and documents the knobs),
    * Bm25KnobSpec prices them on the deterministic token-stuffed corpus
    * (PLANS.md "BM25 knobs on a non-degenerate corpus"),
    * and this line makes the full three-arm ladder (count / idf /
    * saturated-BM25, all-integer scoring) an oracle-gated output on
    * that corpus under the planted twin ground truth. See
    * [[graft.ext.Retrieval.lexRelevanceLadder]] for the exact-integer
    * saturation spelling. */
  def x105_bm25_stuffed_ladder(s: SparkSession, dir: String): DataFrame =
    graft.ext.Retrieval.lexRelevanceLadder(
      graft.ext.Retrieval.stuffedDocs(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text"),
      "doc_id", "text", RelevanceQueries, HybridArmK, HybridTopK)


  /** Query-twin count for the x98 relevance harness — larger than
    * [[QuerySetSize]] because the deliverable is a hit RATE (integer
    * hits out of n): 50 queries resolve arm differences 10 cannot. */
  val RelevanceQueries = 50


  /** Retrieval relevance ground truth (x98) — the round-11 verdict's #3,
    * and the end-to-end number the retrieval ladder lacked: the corpus
    * is augmented with a PERTURBED TWIN of each query doc
    * ([[graft.ext.Relevance]] — hash-dropped tokens, dyadic embedding
    * jitter at cos(twin, source) ≈ 0.71 vs 0.49 max background), and
    * each of the four gated arm configurations runs the SAME fused
    * retrieval over the augmented corpus:
    *   1_brute     = x79's form (count lexical + exact dense),
    *   2_ivf_sq8   = x84's (count lexical + trained-cell SQ8 dense),
    *   3_ivf_pq    = x88's (count lexical + IVF×PQ dense),
    *   4_bm25_brute= x87's (idf-damped lexical + exact dense).
    * Output: one integer row per arm — n_queries, twins found at rank 1
    * and within the fused top-[[HybridTopK]], and the one-divide hit
    * rate. hit@k(exact arms) is the positive control (the twin IS the
    * nearest neighbor by construction); the compressed arms' shortfall
    * is their probe/code-resolution loss priced END TO END, and
    * 1 vs 4 adjudicates BM25-vs-raw with a number. The four calls share
    * one augmented corpus, so the lexical index, quantized vectors, and
    * brute-arm norms are cached once (identical analyzed plans); only
    * the trained arms pay their training constants. Same orphan
    * precondition as x84/x88, asserted over the UNION corpus. */
  def x98_retrieval_relevance(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Relevance, Retrieval}
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val embs = Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
    // The twin-augmented corpus persists once (round 16): every arm's
    // fusion derives its universe, index, and vectors from these two
    // relations, and without the barrier each of the four arms re-built
    // the union + twin projection per reference.
    val udocs = graft.ext.ExtCaches.persistTracked(docs.unionByName(
      Relevance.twinDocs(docs, "doc_id", "text", RelevanceQueries)))
    val uembs = graft.ext.ExtCaches.persistTracked(embs.unionByName(
      Relevance.twinEmbs(embs, "vec_id", "embedding", RelevanceQueries)))
    val queries = docs.filter(col("doc_id") < RelevanceQueries)
      .join(uembs.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    // Trained state comes from the SESSION-KEYED twin anchors
    // (ExtGraphGates.twinCellStats / twinPqState — round 16): the
    // anchors train over the full twin-augmented embedding corpus,
    // which is value-identical to the docs ∩ embs universe the arms
    // receive BECAUSE the orphan guard below asserts exactly that
    // equality (and fails this query loudly the day it stops holding).
    // Training is deterministic exact-integer Lloyd, so sharing with
    // x102/x103/x104 changes cost, never results; previously this gate
    // re-trained both chains per invocation.
    def front(corpus: DataFrame) = Similarity.ivfFront(corpus, "id", "vec",
      twinCellStats(s, dir), ScaledNprobe)
    val sq8Arm: Retrieval.DenseArm = (corpus, qv, armK) =>
      Similarity.ivfSq8TopKScaled(front(corpus), corpus, qv, "id", "vec",
          k = armK)
        .select(col("q_id"), col("c_id").as("id"), col("rnk").as("vec_rnk"))
    val pqArm: Retrieval.DenseArm = (corpus, qv, armK) =>
      Similarity.ivfPqTopK(front(corpus), qv, "id", k = armK, m = PqM,
          codes = PqCodes, pqState = twinPqState(s, dir))
        .select(col("q_id"), col("c_id").as("id"), col("rnk").as("vec_rnk"))
    // ONE multi-arm rank pass (round 17 — the r16 verdict's #5): the
    // four fusions previously ran one full-outer join + rank window +
    // ungrouped aggregate tower EACH over the (cached, ≤|queries|·armK
    // row) arm shortlists. The arms now full-outer join per
    // configuration (that join defines RRF's missing-arm semantics and
    // cannot union earlier), are tagged and unioned, and ONE window
    // partitioned by (arm, q_id) ranks all four at once — rank within
    // (arm, q_id) is exactly the per-arm fusion's rank within q_id
    // (same ordering expressions), so the rows entering the hit
    // aggregate are identical and the oracle hash is unchanged. The
    // fusion runs UNCUT to k = 2·armK (a query contributes at most armK
    // rows per arm) so the aggregate can read the per-arm shortlist
    // columns; the headline hit@k still cuts at HybridTopK inside it.
    val armDefs: Seq[(String, Boolean, Retrieval.DenseArm)] = Seq(
      ("1_brute", false, Retrieval.bruteArm),
      ("2_ivf_sq8", false, sq8Arm),
      ("3_ivf_pq", false, pqArm),
      ("4_bm25_brute", true, Retrieval.bruteArm))
    val fusedAll = armDefs.map { case (arm, idf, dense) =>
      val (lex, vec) = Retrieval.hybridArms(udocs, uembs, queries,
        "doc_id", "text", "vec_id", "embedding", armK = HybridArmK,
        idfWeighted = idf, denseArm = dense)
      lex.join(vec, Seq("q_id", "id"), "full_outer")
        .withColumn("arm", lit(arm))
    }.reduce(_.unionByName(_))
    val rrf =
      coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("lex_rnk").cast(DoubleType)), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("vec_rnk").cast(DoubleType)), lit(0.0))
    val ranked = graft.ops.TopK.perGroup(fusedAll.withColumn("rrf", rrf),
      Seq(col("arm"), col("q_id")), Seq(desc("rrf"), col("id")), 2 * HybridArmK)
    // [[graft.ext.Relevance.hitsAtK]]'s aggregate, grouped by arm; the
    // static arm list left-joins the grouped counts so an arm that
    // retrieved nothing still emits its zero row (the ungrouped
    // aggregate's semantics, preserved).
    val isTwin = col("id") === col("q_id") + graft.ext.Relevance.TwinIdOffset
    val hits = ranked.groupBy(col("arm")).agg(
      count(when(isTwin && col("rnk") === 1L, lit(1))).as("hits_at_1"),
      count(when(isTwin && col("rnk") <= HybridTopK, lit(1))).as("hits_at_k"),
      count(when(isTwin && col("lex_rnk").isNotNull, lit(1))).as("hits_lex"),
      count(when(isTwin && col("vec_rnk").isNotNull, lit(1))).as("hits_vec"))
    import s.implicits._
    armDefs.map(_._1).toDF("arm")
      .join(hits, Seq("arm"), "left")
      .crossJoin(broadcast(queries.agg(count(lit(1)).as("n_queries"))))
      .select(col("arm"), col("n_queries"),
        coalesce(col("hits_at_1"), lit(0L)).cast(LongType).as("hits_at_1"),
        coalesce(col("hits_at_k"), lit(0L)).cast(LongType).as("hits_at_k"),
        coalesce(col("hits_lex"), lit(0L)).cast(LongType).as("hits_lex"),
        coalesce(col("hits_vec"), lit(0L)).cast(LongType).as("hits_vec"),
        (coalesce(col("hits_at_k"), lit(0L)).cast(DoubleType) /
          col("n_queries").cast(DoubleType)).as("hit_rate"))
      .crossJoin(orphanGuard(udocs, uembs, "x98"))
      .filter(col("precondition_ok").isNull)
      .drop("precondition_ok")
      .orderBy(col("arm"))
  }

  protected def queriesRetrieval: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x79_hybrid_rrf" -> (x79_hybrid_rrf _),
    "x84_hybrid_rrf_ivf" -> (x84_hybrid_rrf_ivf _),
    "x87_hybrid_rrf_bm25" -> (x87_hybrid_rrf_bm25 _),
    "x88_hybrid_rrf_ivfpq" -> (x88_hybrid_rrf_ivfpq _),
    "x98_retrieval_relevance" -> (x98_retrieval_relevance _),
    "x105_bm25_stuffed_ladder" -> (x105_bm25_stuffed_ladder _))

  protected def oracleSqlRetrieval: Map[String, String] = Map(

    // x98: the four gated retrieval forms re-run over the twin-augmented
    // union corpus (relevanceCorpusCtes) and reduced to planted hit@k.
    // ONE index over udocs feeds both lexical arms (count + idf), ONE
    // quantized qv over uembs feeds all three dense arms (brute /
    // trained-cell SQ8 / IVF×PQ — the x84/x88 chains verbatim with the
    // query predicate at RelevanceQueries), and each arm runs x79's
    // fusion spelling (relevanceArmHitsSql) down to its integer hit row.
    "x98_retrieval_relevance" ->
      s"""WITH $relevanceCorpusCtes,
         |qv AS (SELECT vec_id, ${quantSql("embedding")} AS v FROM uembs),
         |$trainedCellCtes,
         |${sq8CodesCteFrom("uembs")},
         |${pqCodebookCtes(s"q.vec_id < $RelevanceQueries")},
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM udocs),
         |shx AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) >= 3
         |              THEN list_distinct(list_transform(range(1, len(t) - 1),
         |                     i -> array_to_string(list_slice(t, i, i + 2), ' ')))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM toks),
         |idx AS (
         |  SELECT doc_id AS id, unnest(sh) AS shingle FROM shx
         |  WHERE doc_id IN (SELECT vec_id FROM uembs)),
         |qsh AS (SELECT q.q_id, i.shingle FROM idx i JOIN q ON i.id = q.q_id),
         |lexcs AS (
         |  SELECT qsh.q_id, i.id, count(*) AS n_common
         |  FROM qsh JOIN idx i USING (shingle)
         |  WHERE i.id <> qsh.q_id GROUP BY 1, 2),
         |lexc AS (
         |  SELECT q_id, id, lex_rnk FROM (
         |    SELECT q_id, id,
         |           CAST(row_number() OVER (PARTITION BY q_id ORDER BY n_common DESC, id) AS BIGINT) AS lex_rnk
         |    FROM lexcs) WHERE lex_rnk <= $HybridArmK),
         |dfrel AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY 1),
         |nu AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_universe FROM udocs
         |  WHERE doc_id IN (SELECT vec_id FROM uembs)),
         |lexis AS (
         |  SELECT qsh.q_id, i.id,
         |         CAST(SUM(GREATEST(1, length(bin(nu.n_universe)) - length(bin(dfrel.df)) + 1)) AS BIGINT) AS n_common
         |  FROM qsh JOIN idx i USING (shingle) JOIN dfrel USING (shingle), nu
         |  WHERE i.id <> qsh.q_id GROUP BY 1, 2),
         |lexi AS (
         |  SELECT q_id, id, lex_rnk FROM (
         |    SELECT q_id, id,
         |           CAST(row_number() OVER (PARTITION BY q_id ORDER BY n_common DESC, id) AS BIGINT) AS lex_rnk
         |    FROM lexis) WHERE lex_rnk <= $HybridArmK),
         |nv AS (SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |vqr AS (SELECT vec_id AS q_id, v AS qvec, norm_sq AS qn FROM nv WHERE vec_id < $RelevanceQueries),
         |vbs AS (
         |  SELECT q_id, c.vec_id AS id,
         |         CAST(${dotSql("qvec", "c.v")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm_sq AS DOUBLE))) AS cosine
         |  FROM vqr JOIN nv c ON c.vec_id <> q_id),
         |vb AS (
         |  SELECT q_id, id, vec_rnk FROM (
         |    SELECT q_id, id,
         |           CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, id) AS BIGINT) AS vec_rnk
         |    FROM vbs) WHERE vec_rnk <= $HybridArmK),
         |kcells AS (
         |  SELECT r.vec_id, r.c_label AS cell, cb.code
         |  FROM krank r JOIN cb USING (vec_id) WHERE rn = 1),
         |kq8 AS (
         |  SELECT r.vec_id AS q_id, r.c_label AS cell, cb.code AS q_code
         |  FROM krank r JOIN cb USING (vec_id)
         |  WHERE rn <= $ScaledNprobe AND r.vec_id < $RelevanceQueries),
         |ks8 AS (
         |  SELECT q_id, kq8.cell AS cell, c.vec_id AS c_id,
         |         ${dotSql("q_code", "c.code")} AS dot_q8
         |  FROM kq8 JOIN kcells c ON kq8.cell = c.cell AND c.vec_id <> q_id),
         |v8 AS (
         |  SELECT q_id, id, vec_rnk FROM (
         |    SELECT q_id, c_id AS id,
         |           CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS BIGINT) AS vec_rnk
         |    FROM ks8) WHERE vec_rnk <= $HybridArmK),
         |mcells AS (
         |  SELECT r.vec_id, r.c_label AS cell, cr.code
         |  FROM krank r JOIN codesrel cr USING (vec_id) WHERE rn = 1),
         |kqp AS (
         |  SELECT r.vec_id AS q_id, r.c_label AS cell, lt.lut AS lut
         |  FROM krank r JOIN lut lt ON lt.q_id = r.vec_id
         |  WHERE rn <= $ScaledNprobe),
         |ksp AS (
         |  SELECT l.q_id, l.cell, c.vec_id AS c_id,
         |         $pqTermSql AS score_pq
         |  FROM kqp l JOIN mcells c ON l.cell = c.cell AND c.vec_id <> l.q_id),
         |vp AS (
         |  SELECT q_id, id, vec_rnk FROM (
         |    SELECT q_id, c_id AS id,
         |           CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_pq DESC, c_id) AS BIGINT) AS vec_rnk
         |    FROM ksp) WHERE vec_rnk <= $HybridArmK),
         |${relevanceArmHitsSql("1_brute", "lexc", "vb")},
         |${relevanceArmHitsSql("2_ivf_sq8", "lexc", "v8")},
         |${relevanceArmHitsSql("3_ivf_pq", "lexc", "vp")},
         |${relevanceArmHitsSql("4_bm25_brute", "lexi", "vb")}
         |SELECT arm, n_queries, hits_at_1, hits_at_k, hits_lex, hits_vec,
         |       CAST(hits_at_k AS DOUBLE) / CAST(n_queries AS DOUBLE) AS hit_rate
         |FROM (SELECT * FROM hits_1_brute UNION ALL SELECT * FROM hits_2_ivf_sq8
         |      UNION ALL SELECT * FROM hits_3_ivf_pq UNION ALL SELECT * FROM hits_4_bm25_brute)
         |ORDER BY arm""".stripMargin,


    // x105: the stuffed corpus (stuffedCorpusCtes) + its query twins,
    // one tf-weighted shingle index, and the three-arm integer ladder —
    // count / halving-bucket idf / 2^20-scaled saturated BM25 (the
    // exact-rational 22·tf·S / (10·tf·S + 3·S + 9·dl·N) spelling at
    // k1=6/5, b=3/4, ONE integer division per term; DuckDB `//` ≡
    // Spark DIV on positive operands).
    "x105_bm25_stuffed_ladder" -> {
      import graft.ext.Relevance.{TwinIdOffset, TokenKeepMod}
      import graft.ext.Retrieval.SatScale
      val arms = Seq(("1_count", "s_count"), ("2_idf", "s_idf"),
        ("3_bm25_sat", "s_bm25")).map { case (a, c) =>
        s"""r_$a AS (
           |  SELECT q_id, id,
           |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY $c DESC, id) AS BIGINT) AS rnk
           |  FROM ssc),
           |h_$a AS (
           |  SELECT '$a' AS arm,
           |         (SELECT n_queries FROM sq) AS n_queries,
           |         CAST(count(CASE WHEN id = q_id + $TwinIdOffset AND rnk = 1 THEN 1 END) AS BIGINT) AS hits_at_1,
           |         CAST(count(CASE WHEN id = q_id + $TwinIdOffset AND rnk <= $HybridTopK THEN 1 END) AS BIGINT) AS hits_at_k,
           |         CAST(count(CASE WHEN id = q_id + $TwinIdOffset AND rnk <= $HybridTopK THEN 1 END) AS DOUBLE)
           |           / (SELECT CAST(n_queries AS DOUBLE) FROM sq) AS hit_rate
           |  FROM r_$a WHERE rnk <= $HybridArmK)""".stripMargin
      }.mkString(",\n")
      s"""WITH $stuffedCorpusCtes,
         |stw AS (
         |  SELECT src + $TwinIdOffset AS doc_id,
         |         array_to_string(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         |           t -> ${u16Sql("'qt|' || CAST(src AS VARCHAR) || '|' || t")} % $TokenKeepMod <> 0), ' ') AS text
         |  FROM (SELECT doc_id AS src, text FROM sdocs WHERE doc_id < $RelevanceQueries)),
         |sudocs AS (
         |  SELECT doc_id, text FROM sdocs
         |  UNION ALL SELECT doc_id, text FROM stw),
         |socc AS (
         |  SELECT doc_id AS id,
         |         unnest(list_transform(range(1, len(t) - 1),
         |           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingle
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |        FROM sudocs)),
         |stf AS (SELECT id, shingle, CAST(count(*) AS BIGINT) AS tf FROM socc GROUP BY 1, 2),
         |sdl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM stf GROUP BY 1),
         |snn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sudocs),
         |sss AS (SELECT CAST(SUM(tf) AS BIGINT) AS s_total FROM stf),
         |sdf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM stf GROUP BY 1),
         |sqt AS (SELECT id AS q_id, shingle FROM stf WHERE id < $RelevanceQueries),
         |shits AS (
         |  SELECT sqt.q_id, t.id,
         |         CAST(GREATEST(1, length(bin(n.n_docs)) - length(bin(d.df)) + 1) AS BIGINT) AS idf_w,
         |         ($SatScale * 22 * t.tf * s.s_total)
         |           // (10 * t.tf * s.s_total + 3 * s.s_total + 9 * l.dl * n.n_docs) AS sat_tf
         |  FROM sqt JOIN stf t USING (shingle) JOIN sdf d USING (shingle)
         |       JOIN sdl l ON l.id = t.id, snn n, sss s
         |  WHERE t.id <> sqt.q_id),
         |ssc AS (
         |  SELECT q_id, id,
         |         CAST(count(*) AS BIGINT) AS s_count,
         |         CAST(SUM(idf_w) AS BIGINT) AS s_idf,
         |         CAST(SUM(idf_w * sat_tf) AS BIGINT) AS s_bm25
         |  FROM shits GROUP BY 1, 2),
         |sq AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_queries FROM documents
         |  WHERE doc_id < $RelevanceQueries),
         |$arms
         |SELECT * FROM h_1_count
         |UNION ALL SELECT * FROM h_2_idf
         |UNION ALL SELECT * FROM h_3_bm25_sat
         |ORDER BY arm""".stripMargin
    },


    // x84: x79's lexical arm + fusion verbatim, with the x73 trained-
    // cell SQ8 chain in the dense slot at armK depth. The dense chain
    // (qv/trainedCellCtes/sq8CodesCte) trains over ALL embeddings — the
    // registry query asserts embeddings ⊆ documents so this equals the
    // engine's docs ∩ embs universe (loud-failure precondition).
    "x84_hybrid_rrf_ivf" ->
      s"""WITH qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
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
         |vr AS (
         |  SELECT q_id, c_id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot_q8 DESC, c_id) AS BIGINT) AS vec_rnk
         |  FROM ks),
         |vec AS (SELECT q_id, c_id AS id, vec_rnk FROM vr WHERE vec_rnk <= $HybridArmK),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) >= 3
         |              THEN list_distinct(list_transform(range(1, len(t) - 1),
         |                     i -> array_to_string(list_slice(t, i, i + 2), ' ')))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM toks),
         |idx AS (
         |  SELECT doc_id AS id, unnest(sh) AS shingle FROM sh
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
         |q AS (
         |  SELECT doc_id AS q_id FROM documents
         |  WHERE doc_id < $QuerySetSize
         |    AND doc_id IN (SELECT vec_id FROM embeddings)),
         |qsh AS (SELECT q.q_id, i.shingle FROM idx i JOIN q ON i.id = q.q_id),
         |lexs AS (
         |  SELECT qsh.q_id, i.id, count(*) AS n_common
         |  FROM qsh JOIN idx i USING (shingle)
         |  WHERE i.id <> qsh.q_id GROUP BY 1, 2),
         |lexr AS (
         |  SELECT q_id, id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY n_common DESC, id) AS BIGINT) AS lex_rnk
         |  FROM lexs),
         |lex AS (SELECT q_id, id, lex_rnk FROM lexr WHERE lex_rnk <= $HybridArmK),
         |fused AS (
         |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |         COALESCE(l.id, v.id) AS doc_id, l.lex_rnk, v.vec_rnk
         |  FROM lex l FULL OUTER JOIN vec v ON l.q_id = v.q_id AND l.id = v.id),
         |fr AS (
         |  SELECT q_id, doc_id, lex_rnk, vec_rnk,
         |         COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(lex_rnk AS DOUBLE)), CAST(0 AS DOUBLE))
         |         + COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(vec_rnk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
         |  FROM fused),
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
         |  FROM fr)
         |SELECT q_id, doc_id, lex_rnk, vec_rnk, rrf, rnk FROM rr WHERE rnk <= $HybridTopK
         |ORDER BY q_id, rnk""".stripMargin,


    // x79: both arms over the docs ∩ embeddings universe; the RRF score
    // is two COALESCE'd single-divide terms summed once — two-term IEEE
    // addition has no order hazard, so the doubles are bit-identical.
    "x79_hybrid_rrf" ->
      s"""WITH $shinglesCte,
         |idx AS (
         |  SELECT doc_id AS id, unnest(sh) AS shingle FROM sh
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
         |q AS (
         |  SELECT doc_id AS q_id FROM documents
         |  WHERE doc_id < $QuerySetSize
         |    AND doc_id IN (SELECT vec_id FROM embeddings)),
         |qsh AS (SELECT q.q_id, i.shingle FROM idx i JOIN q ON i.id = q.q_id),
         |lexs AS (
         |  SELECT qsh.q_id, i.id, count(*) AS n_common
         |  FROM qsh JOIN idx i USING (shingle)
         |  WHERE i.id <> qsh.q_id GROUP BY 1, 2),
         |lexr AS (
         |  SELECT q_id, id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY n_common DESC, id) AS BIGINT) AS lex_rnk
         |  FROM lexs),
         |lex AS (SELECT q_id, id, lex_rnk FROM lexr WHERE lex_rnk <= $HybridArmK),
         |qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings
         |  WHERE vec_id IN (SELECT doc_id FROM documents)),
         |nv AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |vq AS (SELECT vec_id AS q_id, v AS qvec, norm_sq AS qn FROM nv WHERE vec_id < $QuerySetSize),
         |vscored AS (
         |  SELECT q_id, c.vec_id AS id,
         |         CAST(${dotSql("qvec", "c.v")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm_sq AS DOUBLE))) AS cosine
         |  FROM vq JOIN nv c ON c.vec_id <> q_id),
         |vr AS (
         |  SELECT q_id, id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, id) AS BIGINT) AS vec_rnk
         |  FROM vscored),
         |vec AS (SELECT q_id, id, vec_rnk FROM vr WHERE vec_rnk <= $HybridArmK),
         |fused AS (
         |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |         COALESCE(l.id, v.id) AS doc_id, l.lex_rnk, v.vec_rnk
         |  FROM lex l FULL OUTER JOIN vec v ON l.q_id = v.q_id AND l.id = v.id),
         |fr AS (
         |  SELECT q_id, doc_id, lex_rnk, vec_rnk,
         |         COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(lex_rnk AS DOUBLE)), CAST(0 AS DOUBLE))
         |         + COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(vec_rnk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
         |  FROM fused),
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
         |  FROM fr)
         |SELECT q_id, doc_id, lex_rnk, vec_rnk, rrf, rnk FROM rr WHERE rnk <= $HybridTopK
         |ORDER BY q_id, rnk""".stripMargin,


    // x88: x84's oracle with the x76 IVF×PQ chain in the dense slot —
    // the PQ chain (stored codes + per-query ADC LUTs) scoped to the
    // trained cells' probed members, rank cut at armK, then x79/x84's
    // lexical arm + fusion verbatim. Same orphan precondition as x84.
    "x88_hybrid_rrf_ivfpq" ->
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
         |vr AS (
         |  SELECT q_id, c_id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY score_pq DESC, c_id) AS BIGINT) AS vec_rnk
         |  FROM ks),
         |vec AS (SELECT q_id, c_id AS id, vec_rnk FROM vr WHERE vec_rnk <= $HybridArmK),
         |toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(t) >= 3
         |              THEN list_distinct(list_transform(range(1, len(t) - 1),
         |                     i -> array_to_string(list_slice(t, i, i + 2), ' ')))
         |              ELSE CAST([] AS VARCHAR[]) END AS sh
         |  FROM toks),
         |idx AS (
         |  SELECT doc_id AS id, unnest(sh) AS shingle FROM sh
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
         |q AS (
         |  SELECT doc_id AS q_id FROM documents
         |  WHERE doc_id < $QuerySetSize
         |    AND doc_id IN (SELECT vec_id FROM embeddings)),
         |qsh AS (SELECT q.q_id, i.shingle FROM idx i JOIN q ON i.id = q.q_id),
         |lexs AS (
         |  SELECT qsh.q_id, i.id, count(*) AS n_common
         |  FROM qsh JOIN idx i USING (shingle)
         |  WHERE i.id <> qsh.q_id GROUP BY 1, 2),
         |lexr AS (
         |  SELECT q_id, id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY n_common DESC, id) AS BIGINT) AS lex_rnk
         |  FROM lexs),
         |lex AS (SELECT q_id, id, lex_rnk FROM lexr WHERE lex_rnk <= $HybridArmK),
         |fused AS (
         |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |         COALESCE(l.id, v.id) AS doc_id, l.lex_rnk, v.vec_rnk
         |  FROM lex l FULL OUTER JOIN vec v ON l.q_id = v.q_id AND l.id = v.id),
         |fr AS (
         |  SELECT q_id, doc_id, lex_rnk, vec_rnk,
         |         COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(lex_rnk AS DOUBLE)), CAST(0 AS DOUBLE))
         |         + COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(vec_rnk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
         |  FROM fused),
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
         |  FROM fr)
         |SELECT q_id, doc_id, lex_rnk, vec_rnk, rrf, rnk FROM rr WHERE rnk <= $HybridTopK
         |ORDER BY q_id, rnk""".stripMargin,


    // x87: x79's oracle with the lexical arm idf-weighted — per-shingle
    // df off the same index, N as the ranked-universe count, weight =
    // GREATEST(1, length(bin(N)) - length(bin(df)) + 1) (the integer
    // halving-bucket idf staircase; bin() is exact on both engines), and
    // the rank score the CAST-to-BIGINT sum of weights. Dense arm and
    // fusion are x79's verbatim.
    "x87_hybrid_rrf_bm25" ->
      s"""WITH $shinglesCte,
         |idx AS (
         |  SELECT doc_id AS id, unnest(sh) AS shingle FROM sh
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
         |dfrel AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY 1),
         |nu AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_universe FROM documents
         |  WHERE doc_id IN (SELECT vec_id FROM embeddings)),
         |q AS (
         |  SELECT doc_id AS q_id FROM documents
         |  WHERE doc_id < $QuerySetSize
         |    AND doc_id IN (SELECT vec_id FROM embeddings)),
         |qsh AS (SELECT q.q_id, i.shingle FROM idx i JOIN q ON i.id = q.q_id),
         |lexs AS (
         |  SELECT qsh.q_id, i.id,
         |         CAST(SUM(GREATEST(1, length(bin(nu.n_universe)) - length(bin(dfrel.df)) + 1)) AS BIGINT) AS n_common
         |  FROM qsh JOIN idx i USING (shingle) JOIN dfrel USING (shingle), nu
         |  WHERE i.id <> qsh.q_id GROUP BY 1, 2),
         |lexr AS (
         |  SELECT q_id, id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY n_common DESC, id) AS BIGINT) AS lex_rnk
         |  FROM lexs),
         |lex AS (SELECT q_id, id, lex_rnk FROM lexr WHERE lex_rnk <= $HybridArmK),
         |qv AS (
         |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings
         |  WHERE vec_id IN (SELECT doc_id FROM documents)),
         |nv AS (
         |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
         |vq AS (SELECT vec_id AS q_id, v AS qvec, norm_sq AS qn FROM nv WHERE vec_id < $QuerySetSize),
         |vscored AS (
         |  SELECT q_id, c.vec_id AS id,
         |         CAST(${dotSql("qvec", "c.v")} AS DOUBLE)
         |           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(c.norm_sq AS DOUBLE))) AS cosine
         |  FROM vq JOIN nv c ON c.vec_id <> q_id),
         |vr AS (
         |  SELECT q_id, id,
         |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, id) AS BIGINT) AS vec_rnk
         |  FROM vscored),
         |vec AS (SELECT q_id, id, vec_rnk FROM vr WHERE vec_rnk <= $HybridArmK),
         |fused AS (
         |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
         |         COALESCE(l.id, v.id) AS doc_id, l.lex_rnk, v.vec_rnk
         |  FROM lex l FULL OUTER JOIN vec v ON l.q_id = v.q_id AND l.id = v.id),
         |fr AS (
         |  SELECT q_id, doc_id, lex_rnk, vec_rnk,
         |         COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(lex_rnk AS DOUBLE)), CAST(0 AS DOUBLE))
         |         + COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(vec_rnk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
         |  FROM fused),
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
         |  FROM fr)
         |SELECT q_id, doc_id, lex_rnk, vec_rnk, rrf, rnk FROM rr WHERE rnk <= $HybridTopK
         |ORDER BY q_id, rnk""".stripMargin)
}
