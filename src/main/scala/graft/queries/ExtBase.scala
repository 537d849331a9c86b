package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.Cdc
import graft.streaming.EventStreams
import graft.tables.Tables

/** Shared constants and DuckDB-oracle CTE helpers used across every
  * extension family — split from the former monolithic
  * Extensions.scala (round 14, pure mechanical move). */
private[queries] trait ExtBase { this: ExtCore =>

  val JaccardThreshold = 0.5
  val CosineDupThreshold = 0.4
  /** x05 LSH geometry: 8 bands × 8 sign bits cover all 64 embedding dims. */
  val CosineBands = 8
  val CosineBandBits = 8
  /** x05_sampled geometry (the corpus-scale knob — SCALING.md): 16 bands ×
    * 16 coordinates SAMPLED from the 64-dim sign signature → 65k-key band
    * space, candidates ~linear in n where the disjoint 8×8 slicing
    * saturates its 256-key space past ~10k vectors. */
  val SampledBands = 16
  val SampledBandBits = 16
  val SampledSeed = 0x5EEDL
  val EmbeddingDims = 64
  val QuerySetSize = 10
  /** x78 kNN-graph degree — small because consumers (mutual-kNN, NN-
    * descent seeding, SemDeDup neighborhoods) want the closest handful,
    * and n·k is the output size. */
  val KnnGraphK = 3
  /** x79 hybrid-retrieval geometry: each arm retrieves HybridArmK, RRF
    * keeps HybridTopK. RrfC = 60 is the constant from Cormack et al.,
    * SIGIR'09 — large enough that a few rank positions within an arm
    * matter less than presence in both arms. */
  val HybridArmK = 10
  val HybridTopK = 5
  val RrfC = 60
  /** x07/x63/x64/x69 coarse-quantizer width: sign bits of the leading
    * SimBucketBits components = 2^SimBucketBits IVF buckets. ONE constant
    * interpolated into BOTH the Scala calls and the oracle SQL (probe
    * count, substr lengths, bucket concat) — the round-8 advice fix: a
    * hardcoded `4`/`range(0,5)` pair in the SQL would silently
    * desynchronize the engines if the call-site bits ever changed. */
  val SimBucketBits = 4
  /** x52 containment geometry: the smaller set must be ≥ 80 % inside the
    * larger, and carry at least 5 shingles (one- or two-shingle sets hit
    * containment 1.0 by accident, not by duplication). */
  val ContainmentThreshold = 0.8
  val ContainmentMinSmall = 5L
  // x62: char-Levenshtein near-dup threshold + Ed-Join q-gram width. The
  // corpus's near-identical pairs sit at ED 4-8 with the next cohort past
  // 20 (measured at sf0.01), so k=8 captures the true duplicate band
  // while keeping the prefix (k·q+1 = 41 grams) a fraction of a document.
  val EditDistK = 8
  val EditDistQ = 5
  /** x53 split fractions (binary-exact so the md5 cuts are the intended
    * ones on both engines) and the draw's salt. */
  val SplitTrainFrac = 0.75
  val SplitValFrac = 0.125
  val SplitSalt = "split"


  // ---- x26: the end-to-end training-data build ---------------------------

  /** Quality gate for x26: keeps ~75% of the corpus at every SF (the score
    * distribution's p25 sits at 0.5). Interpolated into BOTH the Spark
    * filter and the oracle SQL so the two sides can never drift.
    *
    * As the weak-label source for the classifier family, now PRICED
    * (x86, round 11): a vote model trained on this gate's labels over
    * the 75 % hash slice reproduces the gate on the held-out 25 % with
    * accuracy 0.75/0.74/0.75 at sf0.001/0.01/0.1 under the naive
    * vote_score > 0 rule (it predicts all-positive — recall 1.0,
    * precision = base rate), and 0.93 at sf0.1 once the cut is
    * calibrated on the training slice (x90). The gate itself is a
    * deterministic function of the text, so these numbers measure how
    * learnable the gate is from token evidence alone — the fidelity a
    * production pipeline gets when it swaps the exact scorer for the
    * cheaper trained filter on an unscored corpus. */
  val QualityGate = 0.5


  // ---- x33: incremental ingest dedup --------------------------------------

  /** The already-ingested share of the corpus in the x33 split (hash of
    * doc_id, the same deterministic splitter x28 uses for eval/train). */
  val BaseFrac = 0.75


  /** tokens + distinct 3-token shingles, shared CTE prefix. */
  private[queries] val shinglesCte: String =
    """toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(t) >= 3
      |              THEN list_distinct(list_transform(range(1, len(t) - 1),
      |                     i -> array_to_string(list_slice(t, i, i + 2), ' ')))
      |              ELSE CAST([] AS VARCHAR[]) END AS sh
      |  FROM toks)""".stripMargin

  /** The full MinHash→LSH→verify CTE chain (mirrors Dedup.minhashLshPairs
    * with w=3, 16 perms, 4 bands): `verified` holds candidate pairs with
    * exact Jaccard. Shared by x03 (the pair query) and x20 (cluster
    * resolution over the pair graph). */
  private[queries] val minhashVerifiedCte: String =
    s"""$shinglesCte,
       |sigs AS (
       |  SELECT doc_id, sh,
       |         list_transform(range(0, 16), i ->
       |           list_min(list_transform(sh, s -> md5(i::VARCHAR || '|' || s)))) AS sig
       |  FROM sh),
       |bandrows AS (
       |  SELECT doc_id, j AS band,
       |         md5(array_to_string(list_slice(sig, CAST(j*4+1 AS INT), CAST(j*4+4 AS INT)), ',')) AS bucket
       |  FROM sigs, unnest(range(0, 4)) AS u(j)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bandrows x JOIN bandrows y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT id_a, id_b,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
       |  FROM cand
       |  JOIN sh a ON id_a = a.doc_id
       |  JOIN sh b ON id_b = b.doc_id)""".stripMargin

  /** Connected-component labels over the verified near-dup pair graph
    * (mirrors minhashDupLabels' fixpoint as a recursive closure) — the
    * ONE spelling shared by x26/x26b/x53, so the three pipelines' notion
    * of "near-dup family" cannot drift. Needs WITH RECURSIVE and
    * [[minhashVerifiedCte]] upstream. `lab` = (v, label = min reachable
    * vertex). */
  private[queries] val ccLabelsCte: String =
    s"""prs AS (
       |  SELECT id_a, id_b FROM verified WHERE jaccard >= $JaccardThreshold),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM prs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM prs),
       |reach(v, l) AS (
       |  SELECT DISTINCT src AS v, src AS l FROM edges
       |  UNION
       |  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON r.v = e.src),
       |lab AS (SELECT v, min(l) AS label FROM reach GROUP BY v)""".stripMargin

  /** The per-row scoring + gate CTE chain (language ID + quality score +
    * the TargetLang/QualityGate filter) — mirrors
    * TextOps.langId∘qualityScore exactly; the ONE spelling shared by x26
    * and x26b. `gated` = the corpus after stage 1+2 of the pipeline. */
  private[queries] def qualityGateCte: String =
    s"""qtoks AS (
       |  SELECT doc_id, lang, text,
       |         regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |qm AS (
       |  SELECT doc_id, lang, text,
       |         CAST(len(text) AS BIGINT) AS n_chars,
       |         CAST(len(t) AS BIGINT) AS n_tokens,
       |         CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
       |         CAST(len(list_filter(t, x -> x IN ('the','a','an','and','of','to','in','is','it','for'))) AS BIGINT) AS stopword_count,
       |         CAST(len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS BIGINT) AS s_en,
       |         CAST(len(list_filter(t, x -> x IN ('der','die','und','ist','das'))) AS BIGINT) AS s_de,
       |         CAST(len(list_filter(t, x -> x IN ('el','los','que','y','las'))) AS BIGINT) AS s_es,
       |         CAST(len(list_filter(t, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS s_fr,
       |         CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS s_zh
       |  FROM qtoks),
       |qr AS (
       |  SELECT *,
       |         CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
       |         CASE WHEN n_tokens > 0 THEN CAST(stopword_count AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio
       |  FROM qm),
       |qq AS (
       |  SELECT *,
       |         ROUND(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
       |               * (1.0 - punct_ratio)
       |               * least(stopword_ratio * 5.0 + 0.5, 1.0), 6) AS quality_score,
       |         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |              WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |              WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |              WHEN s_fr >= s_zh THEN 'fr'
       |              ELSE 'zh' END AS predicted_lang
       |  FROM qr),
       |gated AS (
       |  SELECT doc_id, lang, text, n_chars, n_tokens, quality_score
       |  FROM qq
       |  WHERE predicted_lang = '$TargetLang' AND quality_score >= $QualityGate)""".stripMargin

  /** One unrolled round of the x60 BPE loop: count adjacent pairs of
    * `seqs${r-1}`, pick the winner (count desc, pair asc), apply it
    * greedily leftmost-first. Greedy non-overlapping selection is the
    * gaps-and-islands odd-rank filter: consecutive match positions can
    * only chain when the pair is a token repeated against itself, and
    * leftmost-greedy takes ranks 1, 3, 5… of each island — provably the
    * same selection as the Spark side's left-to-right fold
    * (TextOps.applyMerge). `sel` marks merge starts; a position is
    * emitted unless it is the SECOND token of a selected merge, and a
    * selected start emits the fused token. */
  /** One unrolled BPE round, oracle side. Defaults replay x60's
    * word-level loop over per-document sequences; `key = "word",
    * weighted = true` replays x110's char-level loop over the
    * distinct-word relation (pair counts and the post-merge symbol mass
    * weighted by the carried `freq` column). `mt`/`seqs` are
    * MATERIALIZED (round 16): DuckDB inlines plain CTEs, and each round
    * references its predecessor ~3× (cnt, match, the rebuild), so an
    * unrolled depth-k chain re-inlined the base scan 3^k times — at
    * x110c's k = 6 that exhausted the file-handle budget outright.
    * Materializing each round's two outputs makes the chain linear;
    * values are unchanged (the hint only pins evaluation order). */
  private[queries] def bpeRoundSql(r: Int, key: String = "doc_id",
                          weighted: Boolean = false): String = {
    val prev = s"seqs${r - 1}"
    val nExpr = if (weighted) "SUM(freq)" else "count(*)"
    val carry = if (weighted) ", freq" else ""
    val carryPs = if (weighted) ", ps.freq" else ""
    val afterExpr = if (weighted) "SUM(freq * len(t))" else "SUM(len(t))"
    s"""cnt$r AS (
       |  SELECT t[p] || ' ' || t[p+1] AS pair, $nExpr AS n
       |  FROM $prev, unnest(range(1, len(t))) AS u(p)
       |  GROUP BY 1),
       |mt$r AS MATERIALIZED (
       |  -- null-winner sentinel (round-14 advice): an exhausted vocabulary
       |  -- empties cnt; LIMIT 1 alone would then empty mt, and seqs's CROSS
       |  -- JOIN would drop every row. An always-present all-null candidate
       |  -- that sorts LAST (the leading pair-IS-NULL key) wins only when no
       |  -- real pair exists; nothing matches NULL, so the dead round is an
       |  -- identity — the same no-op the Spark side's null-guarded
       |  -- applyTopMerge spells. One branch, one cnt$r reference: a second
       |  -- reference (e.g. NOT EXISTS) re-inlines the whole per-round chain
       |  -- and goes exponential in the unrolled depth.
       |  SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b,
       |         pair, n
       |  FROM (SELECT pair, n FROM cnt$r
       |        UNION ALL
       |        SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT))
       |  ORDER BY (pair IS NULL), n DESC, pair LIMIT 1),
       |match$r AS (
       |  SELECT s.$key, p
       |  FROM $prev s, mt$r m, unnest(range(1, len(s.t))) AS u(p)
       |  WHERE s.t[p] = m.a AND s.t[p+1] = m.b),
       |sel$r AS (
       |  SELECT $key, p FROM (
       |    SELECT $key, p,
       |           row_number() OVER (PARTITION BY $key, g ORDER BY p) AS rk
       |    FROM (SELECT $key, p,
       |                 p - row_number() OVER (PARTITION BY $key ORDER BY p) AS g
       |          FROM match$r))
       |  WHERE rk % 2 = 1),
       |seqs$r AS MATERIALIZED (
       |  SELECT ps.$key$carryPs,
       |         list(CASE WHEN s1.p IS NOT NULL THEN m.a || '_' || m.b
       |                   ELSE ps.tok END ORDER BY ps.p) AS t
       |  FROM (SELECT $key, p, t[p] AS tok$carry
       |        FROM $prev, unnest(range(1, len(t) + 1)) AS u(p)) ps
       |  CROSS JOIN mt$r m
       |  LEFT JOIN sel$r s1 ON ps.$key = s1.$key AND ps.p = s1.p
       |  LEFT JOIN sel$r s2 ON ps.$key = s2.$key AND ps.p = s2.p + 1
       |  WHERE s2.p IS NULL
       |  GROUP BY ps.$key$carryPs),
       |row$r AS (
       |  SELECT CAST($r AS BIGINT) AS round, m.pair, CAST(m.n AS BIGINT) AS n,
       |         (SELECT CAST($afterExpr AS BIGINT) FROM seqs$r) AS n_tokens_after
       |  FROM mt$r m
       |  WHERE m.pair IS NOT NULL)""".stripMargin
  }

  /** Fixed-point quantization + exact integer dot product — mirrors
    * Similarity.quantize/dotQ bit-for-bit (×2^20 is a binary scale: the
    * double multiply never rounds; round() is half-away-from-zero in both
    * engines and exact ties are impossible on dyadic inputs). */
  private[queries] def quantSql(v: String): String =
    s"list_transform($v, x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.Scale}) AS BIGINT))"

  private[queries] def dotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |  p -> p[1] * p[2])) AS BIGINT)""".stripMargin

  /** Sign-bucket key over the leading [[SimBucketBits]] components of an
    * integer array column — mirrors Similarity.signBucket, generated from
    * the SAME constant as the Scala call sites (round-8 advice: hardcoded
    * widths in the SQL would silently desync the engines). */
  private[queries] def bucketSql(arr: String): String =
    (1 to SimBucketBits)
      .map(i => s"CASE WHEN $arr[$i] >= 0 THEN '1' ELSE '0' END")
      .mkString("(", " ||\n          ", ")")

  /** SQ8 scales + codes + sign bucket — mirrors
    * Similarity.sq8Scales/sq8Codes/signBucket bit-for-bit: scales are
    * maxima of exact float→double widenings, (127·x)/s is one multiply +
    * one divide both engines associate identically, and floor is exact —
    * no round-half tie exists to differ. Dead dims (s = 0) code to 0. */
  private[queries] def sq8CodesCte: String = sq8CodesCteFrom("embeddings")

  /** As [[knnEdgeCtesFrom]]: the SQ8 code chain over an arbitrary
    * (vec_id, embedding) source relation (`uembs` for x98). */
  private[queries] def sq8CodesCteFrom(src: String): String =
    s"""mx AS (
       |  SELECT dim, MAX(ABS(x)) AS m FROM (
       |    SELECT generate_subscripts(embedding, 1) AS dim,
       |           CAST(unnest(embedding) AS DOUBLE) AS x
       |    FROM $src) GROUP BY dim),
       |ma AS (SELECT list(m ORDER BY dim) AS scales FROM mx),
       |codes AS (
       |  SELECT vec_id,
       |         list_transform(range(1, ${EmbeddingDims + 1}), i ->
       |           CASE WHEN scales[i] > 0
       |                THEN CAST(floor(127 * CAST(embedding[i] AS DOUBLE) / scales[i]) AS BIGINT)
       |                ELSE 0 END) AS code
       |  FROM $src, ma),
       |cb AS (
       |  SELECT vec_id, code,
       |         ${bucketSql("code")} AS bucket
       |  FROM codes)""".stripMargin

  /** The x55 incremental-LSH oracle — ONE spelling registered for BOTH
    * the batch query and its streaming twin (stream-equals-batch is the
    * gated claim): the x03 MinHash→LSH→verify chain with the x33
    * base/batch hash-split; candidates are batch×base band collisions
    * only. */
  private[queries] def x55OracleSql: String =
    s"""WITH $shinglesCte,
       |flags AS (
       |  SELECT doc_id, sh,
       |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}' AS in_base
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, in_base,
       |         list_transform(range(0, 16), i ->
       |           list_min(list_transform(sh, s -> md5(i::VARCHAR || '|' || s)))) AS sig
       |  FROM flags),
       |bandrows AS (
       |  SELECT doc_id, in_base, j AS band,
       |         md5(array_to_string(list_slice(sig, CAST(j*4+1 AS INT), CAST(j*4+4 AS INT)), ',')) AS bucket
       |  FROM sigs, unnest(range(0, 4)) AS u(j)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS base_id
       |  FROM bandrows x JOIN bandrows y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |   AND NOT x.in_base AND y.in_base),
       |ver AS (
       |  SELECT c.doc_id, c.base_id,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |           / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
       |  FROM cand c
       |  JOIN sh a ON c.doc_id = a.doc_id
       |  JOIN sh b ON c.base_id = b.doc_id)
       |SELECT doc_id, base_id, jaccard FROM ver
       |WHERE jaccard >= $JaccardThreshold
       |ORDER BY doc_id, base_id""".stripMargin

  /** Exact-integer centroid chain — ONE spelling shared by every oracle
    * that ranks vectors against per-label centroids (x56 purity, x59
    * SemDeDup, x70 learned IVF, x71 recall compare): quantized vectors
    * (qv), per-(label, dim) integer sums (sums), the 1-row-per-label
    * centroid stats with HUGEINT |s|² (cent — DuckDB's SUM(BIGINT) is
    * HUGEINT, matching the Spark side's DECIMAL(38,0)), and the
    * all-pairs score t = |s|²/n² − 2(v·s)/n (scored) whose expression
    * tree mirrors graftfn.CellState's t operand-for-operand so the doubles
    * are bit-identical. */
  private[queries] def centroidScoreCtes: String =
    s"""qv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label, ${quantSql("embedding")} AS v
       |  FROM embeddings),
       |cex AS (
       |  SELECT label, unnest(range(0, len(v))) AS dim, unnest(v) AS x FROM qv),
       |sums AS (
       |  SELECT label AS c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM cex GROUP BY 1, 2),
       |cent AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM sums GROUP BY 1),
       |scored AS (
       |  SELECT qv.vec_id, qv.label, cent.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("qv.v", "cent.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM qv CROSS JOIN cent)""".stripMargin

  /** One unrolled Lloyd round for the x72 oracle (the x60 bpeRoundSql
    * discipline): score the corpus against round r−1's centroids (round
    * 0 = the shared chain's per-label `cent`), take the (t, c_label)
    * argmin assignment, and recompute exact-integer centroid stats. The
    * t spelling matches centroidScoreCtes / graftfn.CellState's t
    * operand-for-operand. */
  private[queries] def kmeansRoundSql(r: Int, p: String = "", seed: String = "cent",
                             src: String = "qv"): String = {
    val prev = if (r == 1) seed else s"${p}cent_${r - 1}"
    s"""${p}scored_$r AS (
       |  SELECT $src.vec_id, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql(s"$src.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM $src CROSS JOIN $prev c),
       |${p}assigned_$r AS (
       |  SELECT vec_id, c_label FROM (
       |    SELECT vec_id, c_label,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
       |    FROM ${p}scored_$r) WHERE rn = 1),
       |${p}aex_$r AS (
       |  SELECT a.c_label, unnest(range(0, len(v))) AS dim, unnest(v) AS x
       |  FROM ${p}assigned_$r a JOIN $src USING (vec_id)),
       |${p}sums_$r AS (
       |  SELECT c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM ${p}aex_$r GROUP BY 1, 2),
       |${p}cent_$r AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM ${p}sums_$r GROUP BY 1),
       |${p}row_$r AS (
       |  SELECT CAST($r AS BIGINT) AS round, c_label,
       |         CAST(n AS BIGINT) AS n_vecs,
       |         md5(array_to_string(sl, ',')) AS centroid_digest
       |  FROM ${p}cent_$r)""".stripMargin
  }

  /** The full PQ chain (x74/x75 shared spelling): subvector split,
    * hash-seeded codebooks, Lloyd rounds, stored codes, per-query ADC
    * tables, and the row-local explicit-sum scoring — ends at `scoredq`
    * (q_id, c_id, score_pq). */
  private[queries] def pqChainCtes: String =
    s"""$centroidScoreCtes,
       |${pqCodebookCtes(s"q.vec_id < $QuerySetSize")},
       |scoredq AS (
       |  SELECT l.q_id, c.vec_id AS c_id,
       |         $pqTermSql AS score_pq
       |  FROM codesrel c CROSS JOIN lut l
       |  WHERE c.vec_id <> l.q_id)""".stripMargin

  /** The PQ training + stored-codes + query-LUT chain over an existing
    * `qv` (vec_id, v) relation — the body of [[pqChainCtes]] with the
    * query predicate parameterized so the x98 relevance oracle can run
    * it over the twin-augmented union corpus with its own query set.
    * `queryPred` filters alias `q` (the subvector relation). */
  private[queries] def pqCodebookCtes(queryPred: String): String = {
    val subW = EmbeddingDims / PqM
    s"""sv AS (
       |  SELECT vec_id, CAST(u.sub AS BIGINT) AS sub,
       |         list_slice(v, CAST(u.sub * $subW + 1 AS INT), CAST(u.sub * $subW + $subW AS INT)) AS sv
       |  FROM qv, unnest(range(0, $PqM)) AS u(sub)),
       |pqaex_0 AS (
       |  SELECT CAST(sub * $PqCodes + vec_id % $PqCodes AS BIGINT) AS c_label,
       |         unnest(range(0, len(sv))) AS dim, unnest(sv) AS x
       |  FROM sv),
       |pqsums_0 AS (
       |  SELECT c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM pqaex_0 GROUP BY 1, 2),
       |pqcent_0 AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM pqsums_0 GROUP BY 1),
       |${(1 to PqLloydRounds + 1).map(r => pqRoundSql(r)).mkString(",\n")},
       |codesrel AS (
       |  SELECT vec_id, list(c_label % $PqCodes ORDER BY sub) AS code
       |  FROM pqassigned_${PqLloydRounds + 1} GROUP BY vec_id),
       |lutterms AS (
       |  SELECT q.vec_id AS q_id, q.sub, c.c_label % $PqCodes AS code,
       |         CAST(${dotSql("q.sv", "c.sl")} AS DOUBLE) / CAST(c.n AS DOUBLE) AS term
       |  FROM sv q JOIN pqcent_$PqLloydRounds c
       |    ON c.c_label >= q.sub * $PqCodes AND c.c_label < (q.sub + 1) * $PqCodes
       |  WHERE $queryPred),
       |lutsub AS (
       |  SELECT q_id, sub,
       |         list(struct_pack(code := code, term := term) ORDER BY code) AS terms
       |  FROM lutterms GROUP BY 1, 2),
       |lut AS (SELECT q_id, list(terms ORDER BY sub) AS lut
       |        FROM lutsub GROUP BY 1)""".stripMargin
  }

  /** The explicit left-associated m-term ADC sum over aliases `l` (the
    * LUT side, column `lut`) and `c` (the code side, column `code`) —
    * mirrors graftfn.AdcScore operand-for-operand; ONE spelling shared
    * by the exhaustive (x74/x75) and IVF-scoped (x76) scoring CTEs so
    * the double arithmetic cannot drift between them. */
  private[queries] def pqTermSql: String =
    (0 until PqM).map(s =>
      s"list_filter(l.lut[${s + 1}], t -> t.code = c.code[${s + 1}])[1].term")
      .mkString("\n         + ")

  /** One unrolled PQ Lloyd round (x74): like [[kmeansRoundSql]] but over
    * the (vec_id, sub) subvector relation with the argmin restricted to
    * the row's own subspace's cells (cell = sub·codes + code). Round
    * R+1's `pqassigned` doubles as the final code assignment (its
    * unreferenced `pqcent` CTE is never executed). */
  private[queries] def pqRoundSql(r: Int, src: String = "sv",
                         p: String = "pq"): String = {
    val prev = s"${p}cent_${r - 1}"
    s"""${p}scored_$r AS (
       |  SELECT $src.vec_id, $src.sub, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql(s"$src.sv", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM $src JOIN $prev c
       |    ON c.c_label >= $src.sub * $PqCodes AND c.c_label < ($src.sub + 1) * $PqCodes),
       |${p}assigned_$r AS (
       |  SELECT vec_id, sub, c_label FROM (
       |    SELECT vec_id, sub, c_label,
       |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY t, c_label) AS rn
       |    FROM ${p}scored_$r) WHERE rn = 1),
       |${p}aex_$r AS (
       |  SELECT a.c_label, unnest(range(0, len($src.sv))) AS dim, unnest($src.sv) AS x
       |  FROM ${p}assigned_$r a JOIN $src ON $src.vec_id = a.vec_id AND $src.sub = a.sub),
       |${p}sums_$r AS (
       |  SELECT c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM ${p}aex_$r GROUP BY 1, 2),
       |${p}cent_$r AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM ${p}sums_$r GROUP BY 1)""".stripMargin
  }

  /** The tf/df/salience chain — ONE spelling shared by the keyword
    * extraction oracle (x32) and the BM25 retrieval oracle's query-set
    * derivation (x78): tokenize, per-(doc, term) tf, per-term df, the
    * single-IEEE-divide salience, and the (salience DESC, tok) rank. */
  private[queries] def tfSalienceCtes: String =
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |occ AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM occ GROUP BY doc_id, tok),
       |dfq AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df
       |  FROM (SELECT DISTINCT doc_id, tok FROM occ) GROUP BY tok),
       |sc AS (
       |  SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
       |         CAST(tf.tf AS DOUBLE) / CAST(dfq.df AS DOUBLE) AS salience
       |  FROM tf JOIN dfq USING (tok)),
       |r AS (
       |  SELECT doc_id, tok, tf, df, salience,
       |         CAST(row_number() OVER (PARTITION BY doc_id
       |                ORDER BY salience DESC, tok) AS BIGINT) AS rnk
       |  FROM sc)""".stripMargin

  /** The trained-coarse-quantizer chain — ONE spelling shared by every
    * oracle that searches trained cells (x73 scaled IVF, x76 IVF×PQ,
    * x77 residual IVF×PQ): hash-split seeds (vec_id mod cells), the
    * Lloyd rounds unrolled under the k-prefix, the all-pairs score of
    * every vector against the FINAL centroids, and the (t, c_label)
    * rank (`krank`: rn = 1 is a corpus row's own cell, rn ≤ nprobe a
    * query's probe list). */
  private[queries] def trainedCellCtes: String = trainedCellCtesOver("qv", "qv")

  /** [[trainedCellCtes]] with the TRAINING relation and the SCORED
    * relation decoupled — `trainSrc` seeds and iterates the Lloyd chain,
    * `scoreSrc` is ranked against the final centroids. Equal arguments
    * reproduce the classic chain byte-for-byte; the frozen-quantizer
    * oracle (x99) trains on the base slice and scores the union. */
  private[queries] def trainedCellCtesOver(trainSrc: String, scoreSrc: String,
                                  cells: Int = ScaledCells): String =
    s"""kaex_0 AS (
       |  SELECT CAST(vec_id % $cells AS BIGINT) AS c_label,
       |         unnest(range(0, len(v))) AS dim, unnest(v) AS x
       |  FROM $trainSrc),
       |ksums_0 AS (
       |  SELECT c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM kaex_0 GROUP BY 1, 2),
       |kcent_0 AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM ksums_0 GROUP BY 1),
       |${(1 to ScaledLloydRounds).map(r => kmeansRoundSql(r, "k", "kcent_0", trainSrc)).mkString(",\n")},
       |kscoredq AS (
       |  SELECT $scoreSrc.vec_id, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql(s"$scoreSrc.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM $scoreSrc CROSS JOIN kcent_$ScaledLloydRounds c),
       |krank AS (
       |  SELECT vec_id, c_label,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
       |  FROM kscoredq)""".stripMargin

  /** The residual IVF×PQ chain (x77): integer-rounded final centroids
    * (`cbar` — floor(s/n + 0.5), ONE bigint→double cast + ONE IEEE
    * divide + floor, the Similarity.roundedCentroids spelling), corpus
    * residuals vs the rank-1 cell, the PQ joint-Lloyd chain retargeted
    * at the residual subvectors (same [[pqRoundSql]], `rpq` prefix),
    * the per-query LUT built from FULL query subvectors against the
    * residual codebook, and the per-(query, probed cell) exact-integer
    * coarse bias dot(q, cbar). */
  private[queries] def residualPqCtes: String = {
    val subW = EmbeddingDims / PqM
    s"""cbar AS (
       |  SELECT c_label AS cell,
       |         list_transform(sl, s ->
       |           CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS cbar
       |  FROM kcent_$ScaledLloydRounds),
       |rv AS (
       |  SELECT qv.vec_id, r.c_label AS cell,
       |         list_transform(list_zip(qv.v, cb.cbar), p -> p[1] - p[2]) AS v
       |  FROM krank r JOIN qv USING (vec_id) JOIN cbar cb ON cb.cell = r.c_label
       |  WHERE r.rn = 1),
       |rsv AS (
       |  SELECT vec_id, CAST(u.sub AS BIGINT) AS sub,
       |         list_slice(v, CAST(u.sub * $subW + 1 AS INT), CAST(u.sub * $subW + $subW AS INT)) AS sv
       |  FROM rv, unnest(range(0, $PqM)) AS u(sub)),
       |rpqaex_0 AS (
       |  SELECT CAST(sub * $PqCodes + vec_id % $PqCodes AS BIGINT) AS c_label,
       |         unnest(range(0, len(sv))) AS dim, unnest(sv) AS x
       |  FROM rsv),
       |rpqsums_0 AS (
       |  SELECT c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM rpqaex_0 GROUP BY 1, 2),
       |rpqcent_0 AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM rpqsums_0 GROUP BY 1),
       |${(1 to PqLloydRounds + 1).map(r => pqRoundSql(r, "rsv", "rpq")).mkString(",\n")},
       |rcodesrel AS (
       |  SELECT vec_id, list(c_label % $PqCodes ORDER BY sub) AS code
       |  FROM rpqassigned_${PqLloydRounds + 1} GROUP BY vec_id),
       |qsv AS (
       |  SELECT vec_id, CAST(u.sub AS BIGINT) AS sub,
       |         list_slice(v, CAST(u.sub * $subW + 1 AS INT), CAST(u.sub * $subW + $subW AS INT)) AS sv
       |  FROM qv, unnest(range(0, $PqM)) AS u(sub)
       |  WHERE vec_id < $QuerySetSize),
       |rlutterms AS (
       |  SELECT q.vec_id AS q_id, q.sub, c.c_label % $PqCodes AS code,
       |         CAST(${dotSql("q.sv", "c.sl")} AS DOUBLE) / CAST(c.n AS DOUBLE) AS term
       |  FROM qsv q JOIN rpqcent_$PqLloydRounds c
       |    ON c.c_label >= q.sub * $PqCodes AND c.c_label < (q.sub + 1) * $PqCodes),
       |rlutsub AS (
       |  SELECT q_id, sub,
       |         list(struct_pack(code := code, term := term) ORDER BY code) AS terms
       |  FROM rlutterms GROUP BY 1, 2),
       |rlut AS (SELECT q_id, list(terms ORDER BY sub) AS lut
       |         FROM rlutsub GROUP BY 1),
       |rkq AS (
       |  SELECT r.vec_id AS q_id, r.c_label AS cell,
       |         ${dotSql("qv.v", "cb.cbar")} AS bias, lt.lut AS lut
       |  FROM krank r
       |  JOIN qv USING (vec_id)
       |  JOIN cbar cb ON cb.cell = r.c_label
       |  JOIN rlut lt ON lt.q_id = r.vec_id
       |  WHERE r.rn <= $ScaledNprobe),
       |rkcells AS (
       |  SELECT rv.vec_id, rv.cell, cr.code
       |  FROM rv JOIN rcodesrel cr USING (vec_id))""".stripMargin
  }

  /** LSH band key for band `j` over the quantized vector `v` — mirrors
    * Similarity.bandKeys: sign bits of components [j·r+1 .. j·r+r] packed
    * little-endian, band index in the high bits. */
  private[queries] def bandKeySql(j: Int, r: Int): String =
    (0 until r).map(i =>
        s"(CASE WHEN v[${j * r + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(s"(${j.toLong << r} + ", " + ", ")")

  /** UNION ALL of one (vec_id, bk) SELECT per band, from CTE `n`. */
  private[queries] def bandRowsSql(bands: Int, r: Int): String =
    (0 until bands).map(j =>
        s"  SELECT vec_id, ${bandKeySql(j, r)} AS bk FROM n")
      .mkString("\n  UNION ALL\n")

  /** Sampled-band key for band `j` — mirrors
    * Similarity.cosineNearDupPairsSampled: bit `i` of the key is the sign
    * of vector coordinate `coords(i)` (0-based; the SAME splitmix64 table
    * the Spark expression uses, via Similarity.sampledCoords), band index
    * in the high bits. The signature test `sig & (1<<src) != 0` is by
    * construction `v[src+1] >= 0`, which is what we emit — no bit ops
    * needed oracle-side. */
  private[queries] def sampledBandKeySql(j: Int, coords: Seq[Int], bits: Int): String =
    coords.zipWithIndex.map { case (src, i) =>
        s"(CASE WHEN v[${src + 1}] >= 0 THEN ${1L << i} ELSE 0 END)" }
      .mkString(s"(${j.toLong << bits} + ", " + ", ")")

  /** UNION ALL of one (vec_id, bk) SELECT per sampled band, from CTE `n`. */
  private[queries] def sampledBandRowsSql(bands: Int, bits: Int, dims: Int,
                                 seed: Long): String = {
    val coords = Similarity.sampledCoords(bands, bits, dims, seed)
    (0 until bands).map(j =>
        s"  SELECT vec_id, ${sampledBandKeySql(j, coords(j), bits)} AS bk FROM n")
      .mkString("\n  UNION ALL\n")
  }

  /** x82's oracle — the x78 band CTEs + the x55-style md5 hash split:
    * DIRECTED candidates from incoming (NOT in_base) to base (in_base),
    * exact cosine, per-incoming-vector rank window. Shared verbatim by
    * the batch form and the streaming twin (stream-equals-batch is the
    * gated claim). */
  private[queries] def x82OracleSql: String =
    s"""WITH qv AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
       |flags AS (
       |  SELECT vec_id,
       |         substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}' AS in_base
       |  FROM embeddings),
       |e AS (
       |${sampledBandRowsSql(SampledBands, SampledBandBits, EmbeddingDims, SampledSeed)}),
       |c AS (
       |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS base_id
       |  FROM e a JOIN e b ON a.bk = b.bk
       |  JOIN flags fa ON fa.vec_id = a.vec_id
       |  JOIN flags fb ON fb.vec_id = b.vec_id
       |  WHERE NOT fa.in_base AND fb.in_base),
       |scored AS (
       |  SELECT c.vec_id, c.base_id,
       |         CAST(${dotSql("ni.v", "nb.v")} AS DOUBLE)
       |           / (sqrt(CAST(ni.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE))) AS cosine
       |  FROM c JOIN n ni ON ni.vec_id = c.vec_id JOIN n nb ON nb.vec_id = c.base_id),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, base_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT vec_id, base_id, cosine, rnk FROM r WHERE rnk <= $KnnGraphK
       |ORDER BY vec_id, rnk""".stripMargin

  /** The x89 IVF-graph CTE chain — quantize, trained-cell ranks (the
    * x73/x76 `trainedCellCtes` front end verbatim), rank-1 members,
    * nprobe probes, exact-cosine scoring, per-source rank window. `gr`
    * holds (src_id, nbr_id, cosine, rnk). ONE spelling shared by x89
    * (the edge list) and x91 (its recall audit), mirroring
    * Similarity.knnGraphIvf. */
  private[queries] def ivfGraphCtes: String = ivfGraphCtesFrom("embeddings")

  /** As [[knnEdgeCtesFrom]]: the x89 chain over an arbitrary
    * (vec_id, embedding) source CTE (`pe` for x97). */
  private[queries] def ivfGraphCtesFrom(src: String): String =
    s"""qv AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS v FROM $src),
       |$trainedCellCtes,
       |gn AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
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
       |  FROM gscored)""".stripMargin

  /** The x93 SQ8-shortlist graph CTE chain — trained-cell ranks, stored
    * SQ8 codes, ADC shortlist per node, exact re-rank of the shortlist.
    * `g8` holds (src_id, nbr_id, cosine, rnk). Shared by x93 and x94,
    * mirroring Similarity.knnGraphIvfSq8. */
  private[queries] def ivfSq8GraphCtes: String = ivfSq8GraphCtesFrom("embeddings")

  /** As [[ivfGraphCtesFrom]]: the x93 chain over an arbitrary
    * (vec_id, embedding) source CTE (`uembs` for x103). */
  private[queries] def ivfSq8GraphCtesFrom(src: String): String =
    s"""qv AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS v FROM $src),
       |$trainedCellCtes,
       |${sq8CodesCteFrom(src)},
       |gn AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
       |smem AS (
       |  SELECT k.vec_id AS nbr_id, k.c_label AS cell, c.code AS cn
       |  FROM krank k JOIN codes c USING (vec_id) WHERE rn = 1),
       |sprb AS (
       |  SELECT k.vec_id AS src_id, k.c_label AS cell, c.code AS cs
       |  FROM krank k JOIN codes c USING (vec_id) WHERE rn <= $ScaledNprobe),
       |adc AS (
       |  SELECT src_id, nbr_id, ${dotSql("cs", "cn")} AS dot_q8
       |  FROM sprb JOIN smem USING (cell)
       |  WHERE nbr_id <> src_id),
       |shortl AS (
       |  SELECT src_id, nbr_id FROM (
       |    SELECT src_id, nbr_id,
       |           row_number() OVER (PARTITION BY src_id ORDER BY dot_q8 DESC, nbr_id) AS srnk
       |    FROM adc) WHERE srnk <= $KnnShortlist),
       |rer AS (
       |  SELECT s.src_id, s.nbr_id,
       |         CAST(${dotSql("a.v", "b.v")} AS DOUBLE)
       |           / (sqrt(CAST(a.norm_sq AS DOUBLE)) * sqrt(CAST(b.norm_sq AS DOUBLE))) AS cosine
       |  FROM shortl s JOIN gn a ON a.vec_id = s.src_id JOIN gn b ON b.vec_id = s.nbr_id),
       |g8 AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rnk
       |  FROM rer)""".stripMargin

  /** One GLOBAL residual sub-Lloyd chain under prefix `p`, trained on
    * `src` (vec_id, v, …): hash seeds vec_id mod [[ResidualSubCells]],
    * [[ScaledLloydRounds]] rounds of the shared [[kmeansRoundSql]]
    * spelling — mirrors `trainedCellStats(rq, subCells, lloydRounds)`
    * with the rq ids being member ids. Final centroids land in
    * `<p>cent_<ScaledLloydRounds>`. Shared by the x106 (one level,
    * `rs`) and x107 (two levels, `da`/`db`) fence oracles. */
  private[queries] def subLloydCtes(p: String, src: String): String =
    s"""${p}aex_0 AS (
       |  SELECT CAST(vec_id % $ResidualSubCells AS BIGINT) AS c_label,
       |         unnest(range(0, len(v))) AS dim, unnest(v) AS x
       |  FROM $src),
       |${p}sums_0 AS (
       |  SELECT c_label, dim, SUM(x) AS s, count(*) AS n
       |  FROM ${p}aex_0 GROUP BY 1, 2),
       |${p}cent_0 AS (
       |  SELECT c_label, max(n) AS n,
       |         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss,
       |         list(s ORDER BY dim) AS sl
       |  FROM ${p}sums_0 GROUP BY 1),
       |${(1 to ScaledLloydRounds).map(r => kmeansRoundSql(r, p, s"${p}cent_0", src)).mkString(",\n")}""".stripMargin

  /** The residual-fence OVERFLOW chain, oracle side (x106) — mirrors
    * [[graft.ext.Similarity.CellFence.residualScored]] composed into
    * [[graft.ext.Similarity.knnGraphIvfResidual]], cell for cell, over
    * the planted corpus CTE `pe`: coarse trained-cell chain (the shared
    * `trainedCellCtes` spelling), cells past [[PlantedFenceCap]]
    * (`bigc`), the under-cap exact join (`okc`), integer-rounded coarse
    * centroids (`cbar` — the x77 spelling), big members' residuals
    * (`rqv`), the hash-seeded sub-Lloyd chain (seeds nbr_id mod
    * [[ResidualSubCells]], the same `kmeansRoundSql` rounds under the
    * `rs` prefix), rank-1 member sub-cells (`msub`), per-(src, cell)
    * top-[[ResidualSubNprobe]] prober sub-cells (`psub` — the prober's
    * residual differs per probed cell, so the rank partitions by
    * (src_id, cell)), the (cell, subcell) candidate join (`rescand`,
    * pairs unique by construction), and the union + exact-cosine rank
    * tail shared with every graph oracle. `gr` holds
    * (src_id, nbr_id, cosine, rnk). */
  private[queries] def residualFenceCtes: String =
    s"""qv AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS v FROM pe),
       |$trainedCellCtes,
       |gn AS MATERIALIZED (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
       |gmem AS MATERIALIZED (SELECT vec_id AS nbr_id, c_label AS cell FROM krank WHERE rn = 1),
       |gprob AS MATERIALIZED (SELECT vec_id AS src_id, c_label AS cell FROM krank WHERE rn <= $ScaledNprobe),
       |bigc AS MATERIALIZED (
       |  SELECT cell FROM (SELECT cell, count(*) AS cn FROM gmem GROUP BY 1)
       |  WHERE cn > $PlantedFenceCap),
       |okc AS (
       |  SELECT p.src_id, m.nbr_id
       |  FROM gprob p JOIN gmem m USING (cell)
       |  WHERE m.nbr_id <> p.src_id AND cell NOT IN (SELECT cell FROM bigc)),
       |cbar AS MATERIALIZED (
       |  SELECT c_label AS cell,
       |         list_transform(sl, s ->
       |           CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS cbar
       |  FROM kcent_$ScaledLloydRounds),
       |rqv AS MATERIALIZED (
       |  SELECT m.nbr_id AS vec_id,
       |         list_transform(list_zip(q.v, cb.cbar), p -> p[1] - p[2]) AS v
       |  FROM gmem m JOIN qv q ON q.vec_id = m.nbr_id JOIN cbar cb USING (cell)
       |  WHERE m.cell IN (SELECT cell FROM bigc)),
       |${subLloydCtes("rs", "rqv")},
       |mssc AS (
       |  SELECT rqv.vec_id, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("rqv.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM rqv CROSS JOIN rscent_$ScaledLloydRounds c),
       |msub AS MATERIALIZED (
       |  SELECT vec_id AS nbr_id, c_label AS subcell FROM (
       |    SELECT vec_id, c_label,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
       |    FROM mssc) WHERE rn = 1),
       |mcell AS MATERIALIZED (
       |  SELECT s.nbr_id, m.cell, s.subcell
       |  FROM msub s JOIN gmem m USING (nbr_id)),
       |prv AS MATERIALIZED (
       |  SELECT p.src_id, p.cell,
       |         list_transform(list_zip(q.v, cb.cbar), x -> x[1] - x[2]) AS v
       |  FROM gprob p JOIN qv q ON q.vec_id = p.src_id JOIN cbar cb USING (cell)
       |  WHERE p.cell IN (SELECT cell FROM bigc)),
       |pssc AS (
       |  SELECT prv.src_id, prv.cell, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("prv.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM prv CROSS JOIN rscent_$ScaledLloydRounds c),
       |psub AS MATERIALIZED (
       |  SELECT src_id, cell, c_label AS subcell FROM (
       |    SELECT src_id, cell, c_label,
       |           row_number() OVER (PARTITION BY src_id, cell ORDER BY t, c_label) AS rn
       |    FROM pssc) WHERE rn <= $ResidualSubNprobe),
       |rescand AS (
       |  SELECT p.src_id, m.nbr_id
       |  FROM psub p JOIN mcell m ON m.cell = p.cell AND m.subcell = p.subcell
       |  WHERE m.nbr_id <> p.src_id),
       |allc AS (
       |  SELECT src_id, nbr_id FROM okc
       |  UNION ALL SELECT src_id, nbr_id FROM rescand),
       |gscored AS (
       |  SELECT a.src_id, a.nbr_id,
       |         CAST(${dotSql("ns.v", "nn.v")} AS DOUBLE)
       |           / (sqrt(CAST(ns.norm_sq AS DOUBLE)) * sqrt(CAST(nn.norm_sq AS DOUBLE))) AS cosine
       |  FROM allc a JOIN gn ns ON ns.vec_id = a.src_id JOIN gn nn ON nn.vec_id = a.nbr_id),
       |gr AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rnk
       |  FROM gscored)""".stripMargin

  /** The depth-2 residual recursion, oracle side (x107) — mirrors
    * [[graft.ext.Similarity.CellFence.residualScoredDeep]] at
    * maxDepth = 3 (public depth = 2) composed into
    * [[graft.ext.Similarity.knnGraphIvfResidualDeep]], over the planted
    * corpus CTE `pe` at the MERGED-mode coarse geometry
    * ([[PlantedDeepCoarse]] cells, [[PlantedDeepNprobe]] probes).
    * Stage by stage: coarse chain → under-cap exact emit (`emit0`, the
    * main path; the loop's own level-1 ok-emit is empty by
    * construction, since every fenced level-0 key is over the cap by
    * definition of `big0`) → level-1 global sub-Lloyd over big-cell
    * residuals (`da` prefix; the engine's one-quantizer-per-level
    * discipline) → member rank-1 / prober top-subNprobe sub-cells →
    * cap-bounded level-2 emit (`emit1`, keys NOT in `big1`) →
    * still-oversized keys re-quantized at level 2 against ACCUMULATED
    * offsets cbar₀ + cbar₁ (`db` prefix; residuals computed as
    * v − cb0 − cb1, exact integers, ≡ the engine's v − (cb0 + cb1)) →
    * level-3 ok emit (`emit2`) + the depth-exhaustion exhaustive emit
    * (`emit3`, keys still in `big2`) → DISTINCT union (the engine's
    * defensive `.distinct()`; pairs are disjoint across emits by the
    * key-partition argument, so it is a no-op on both sides) → the
    * shared exact-cosine rank tail. */
  private[queries] def deepFenceCtes: String = {
    val L = ScaledLloydRounds
    s"""qv AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS v FROM pe),
       |${trainedCellCtesOver("qv", "qv", PlantedDeepCoarse)},
       |gn AS MATERIALIZED (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
       |gmem AS MATERIALIZED (SELECT vec_id AS nbr_id, c_label AS cell FROM krank WHERE rn = 1),
       |gprob AS MATERIALIZED (SELECT vec_id AS src_id, c_label AS cell FROM krank WHERE rn <= $PlantedDeepNprobe),
       |big0 AS MATERIALIZED (
       |  SELECT cell FROM (SELECT cell, count(*) AS cn FROM gmem GROUP BY 1)
       |  WHERE cn > $PlantedFenceCap),
       |emit0 AS (
       |  SELECT p.src_id, m.nbr_id
       |  FROM gprob p JOIN gmem m USING (cell)
       |  WHERE m.nbr_id <> p.src_id AND cell NOT IN (SELECT cell FROM big0)),
       |cbar0 AS MATERIALIZED (
       |  SELECT c_label AS cell,
       |         list_transform(sl, s ->
       |           CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS cb0
       |  FROM kcent_$L),
       |rqv1 AS MATERIALIZED (
       |  SELECT m.nbr_id AS vec_id, m.cell,
       |         list_transform(list_zip(q.v, c0.cb0), p -> p[1] - p[2]) AS v
       |  FROM gmem m JOIN qv q ON q.vec_id = m.nbr_id JOIN cbar0 c0 USING (cell)
       |  WHERE m.cell IN (SELECT cell FROM big0)),
       |${subLloydCtes("da", "rqv1")},
       |m1sc AS (
       |  SELECT rqv1.vec_id, rqv1.cell, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("rqv1.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM rqv1 CROSS JOIN dacent_$L c),
       |memb1 AS MATERIALIZED (
       |  SELECT vec_id AS nbr_id, cell, c_label AS s1 FROM (
       |    SELECT vec_id, cell, c_label,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
       |    FROM m1sc) WHERE rn = 1),
       |prv1 AS (
       |  SELECT p.src_id, p.cell,
       |         list_transform(list_zip(q.v, c0.cb0), x -> x[1] - x[2]) AS v
       |  FROM gprob p JOIN qv q ON q.vec_id = p.src_id JOIN cbar0 c0 USING (cell)
       |  WHERE p.cell IN (SELECT cell FROM big0)),
       |p1sc AS (
       |  SELECT prv1.src_id, prv1.cell, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("prv1.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM prv1 CROSS JOIN dacent_$L c),
       |prob1 AS MATERIALIZED (
       |  SELECT src_id, cell, c_label AS s1 FROM (
       |    SELECT src_id, cell, c_label,
       |           row_number() OVER (PARTITION BY src_id, cell ORDER BY t, c_label) AS rn
       |    FROM p1sc) WHERE rn <= $ResidualSubNprobe),
       |big1 AS MATERIALIZED (
       |  SELECT cell, s1 FROM (SELECT cell, s1, count(*) AS cn FROM memb1 GROUP BY 1, 2)
       |  WHERE cn > $PlantedFenceCap),
       |emit1 AS (
       |  SELECT p.src_id, m.nbr_id
       |  FROM prob1 p JOIN memb1 m ON m.cell = p.cell AND m.s1 = p.s1
       |  WHERE m.nbr_id <> p.src_id
       |    AND NOT EXISTS (SELECT 1 FROM big1 b WHERE b.cell = m.cell AND b.s1 = m.s1)),
       |cbar1 AS MATERIALIZED (
       |  SELECT c_label AS s1,
       |         list_transform(sl, s ->
       |           CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) AS BIGINT)) AS cb1
       |  FROM dacent_$L),
       |rqv2 AS MATERIALIZED (
       |  SELECT m.nbr_id AS vec_id, m.cell, m.s1,
       |         list_transform(list_zip(q.v, c0.cb0, c1.cb1), p -> p[1] - p[2] - p[3]) AS v
       |  FROM memb1 m JOIN qv q ON q.vec_id = m.nbr_id
       |       JOIN cbar0 c0 ON c0.cell = m.cell JOIN cbar1 c1 ON c1.s1 = m.s1
       |  WHERE EXISTS (SELECT 1 FROM big1 b WHERE b.cell = m.cell AND b.s1 = m.s1)),
       |${subLloydCtes("db", "rqv2")},
       |m2sc AS (
       |  SELECT rqv2.vec_id, rqv2.cell, rqv2.s1, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("rqv2.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM rqv2 CROSS JOIN dbcent_$L c),
       |memb2 AS MATERIALIZED (
       |  SELECT vec_id AS nbr_id, cell, s1, c_label AS s2 FROM (
       |    SELECT vec_id, cell, s1, c_label,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY t, c_label) AS rn
       |    FROM m2sc) WHERE rn = 1),
       |prv2 AS (
       |  SELECT p.src_id, p.cell, p.s1,
       |         list_transform(list_zip(q.v, c0.cb0, c1.cb1), x -> x[1] - x[2] - x[3]) AS v
       |  FROM prob1 p JOIN qv q ON q.vec_id = p.src_id
       |       JOIN cbar0 c0 ON c0.cell = p.cell JOIN cbar1 c1 ON c1.s1 = p.s1
       |  WHERE EXISTS (SELECT 1 FROM big1 b WHERE b.cell = p.cell AND b.s1 = p.s1)),
       |p2sc AS (
       |  SELECT prv2.src_id, prv2.cell, prv2.s1, c.c_label,
       |         CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE)
       |           - (2.0 * CAST(${dotSql("prv2.v", "c.sl")} AS DOUBLE)) / CAST(n AS DOUBLE) AS t
       |  FROM prv2 CROSS JOIN dbcent_$L c),
       |prob2 AS MATERIALIZED (
       |  SELECT src_id, cell, s1, c_label AS s2 FROM (
       |    SELECT src_id, cell, s1, c_label,
       |           row_number() OVER (PARTITION BY src_id, cell, s1 ORDER BY t, c_label) AS rn
       |    FROM p2sc) WHERE rn <= $ResidualSubNprobe),
       |big2 AS MATERIALIZED (
       |  SELECT cell, s1, s2 FROM (
       |    SELECT cell, s1, s2, count(*) AS cn FROM memb2 GROUP BY 1, 2, 3)
       |  WHERE cn > $PlantedFenceCap),
       |emit2 AS (
       |  SELECT p.src_id, m.nbr_id
       |  FROM prob2 p JOIN memb2 m ON m.cell = p.cell AND m.s1 = p.s1 AND m.s2 = p.s2
       |  WHERE m.nbr_id <> p.src_id
       |    AND NOT EXISTS (SELECT 1 FROM big2 b
       |                    WHERE b.cell = m.cell AND b.s1 = m.s1 AND b.s2 = m.s2)),
       |emit3 AS (
       |  SELECT p.src_id, m.nbr_id
       |  FROM prob2 p JOIN memb2 m ON m.cell = p.cell AND m.s1 = p.s1 AND m.s2 = p.s2
       |  WHERE m.nbr_id <> p.src_id
       |    AND EXISTS (SELECT 1 FROM big2 b
       |                WHERE b.cell = m.cell AND b.s1 = m.s1 AND b.s2 = m.s2)),
       |allc AS (
       |  SELECT DISTINCT src_id, nbr_id FROM (
       |    SELECT src_id, nbr_id FROM emit0
       |    UNION ALL SELECT src_id, nbr_id FROM emit1
       |    UNION ALL SELECT src_id, nbr_id FROM emit2
       |    UNION ALL SELECT src_id, nbr_id FROM emit3)),
       |gscored AS (
       |  SELECT a.src_id, a.nbr_id,
       |         CAST(${dotSql("ns.v", "nn.v")} AS DOUBLE)
       |           / (sqrt(CAST(ns.norm_sq AS DOUBLE)) * sqrt(CAST(nn.norm_sq AS DOUBLE))) AS cosine
       |  FROM allc a JOIN gn ns ON ns.vec_id = a.src_id JOIN gn nn ON nn.vec_id = a.nbr_id),
       |gr AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rnk
       |  FROM gscored)""".stripMargin
  }

  /** The x83 split-classifier CTE chain — weak labels off the quality
    * gate, the md5 hash split, votes trained on the base slice only,
    * scores for the held-out rest. `lab` carries (doc_id, pos, in_base)
    * one row per doc; `sc` the held-out scores. ONE spelling shared by
    * x83 (the per-doc scores) and x86 (the holdout confusion matrix), so
    * the measured effectiveness is provably the measurement OF the gated
    * classifier, not of a drifted twin. */
  private[queries] def classifierSplitCtes: String =
    s"""$qualityGateCte,
       |lab AS (
       |  SELECT q.doc_id, qt.t, (q.quality_score >= $QualityGate) AS pos,
       |         substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 8) < '${Sampling.cutFor(BaseFrac)}' AS in_base
       |  FROM qq q JOIN qtoks qt USING (doc_id)),
       |dt AS (
       |  SELECT doc_id, pos, in_base, unnest(list_distinct(t)) AS token FROM lab),
       |tot AS (
       |  SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
       |  FROM lab WHERE in_base),
       |w AS (
       |  SELECT token,
       |         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_df,
       |         CAST(SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS neg_df
       |  FROM dt WHERE in_base GROUP BY 1),
       |v AS (
       |  SELECT token,
       |         CASE WHEN pos_df * n_neg > neg_df * n_pos THEN 1
       |              WHEN pos_df * n_neg < neg_df * n_pos THEN -1
       |              ELSE 0 END AS vote
       |  FROM w, tot),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_vocab_tokens,
       |         CAST(SUM(vote) AS BIGINT) AS vote_score
       |  FROM dt JOIN v USING (token)
       |  WHERE NOT in_base GROUP BY 1)""".stripMargin

  /** The x78 kNN-edge CTE chain — quantize, norm, sampled band rows,
    * DIRECTED candidates, exact cosine, per-source rank window. `r`
    * holds (src_id, nbr_id, cosine, rnk). ONE spelling shared by x78
    * (the edge list) and x81 (mutual-edge components), mirroring
    * Similarity.knnGraph. */
  /** The portable u16 hash, oracle side — the DuckDB spelling of
    * Planted.u16 / the x21 sampling hash. */
  private[queries] def u16Sql(s: String): String =
    s"CAST(('0x' || substr(md5($s), 1, 4)) AS BIGINT)"

  /** The planted-structure corpus (x95–x97), oracle side — cell-for-cell
    * the [[graft.ext.Planted]] draws: label from "pc|id", per-(label,
    * dim) center sign/magnitude from "cs|"/"cm|", per-(id, dim) jitter
    * from "pj|". `pe` carries (vec_id, label, embedding). */
  private[queries] def plantedCtes: String = {
    import graft.ext.Planted._
    s"""pl AS (
       |  SELECT vec_id,
       |         ${u16Sql("'pc|' || CAST(vec_id AS VARCHAR)")} % $PlantedK AS label
       |  FROM embeddings),
       |pe AS (
       |  SELECT vec_id, label,
       |         list_transform(range(0, $Dims), d ->
       |           CAST((CASE WHEN ${u16Sql("'cs|' || CAST(label AS VARCHAR) || '|' || CAST(d AS VARCHAR)")} % 2 = 0
       |                      THEN 1 ELSE -1 END)
       |                * ($CenterMin + ${u16Sql("'cm|' || CAST(label AS VARCHAR) || '|' || CAST(d AS VARCHAR)")} % $CenterSpan)
       |                + (${u16Sql("'pj|' || CAST(vec_id AS VARCHAR) || '|' || CAST(d AS VARCHAR)")} % ${2 * JitterMax + 1} - $JitterMax)
       |             AS DOUBLE)) AS embedding
       |  FROM pl)""".stripMargin
  }

  /** The x98 twin-augmented retrieval corpus, oracle side — cell-for-cell
    * the [[graft.ext.Relevance]] draws: per-token keep from "qt|id|tok",
    * per-(id, dim) dyadic jitter from "qe|id|dim", both hashed with the
    * SOURCE id; `udocs`/`uembs` are the corpus unions (embeddings widened
    * to double exactly as the engine widens them before the union) and
    * `q` the query-id set. */
  /** The twin-augmented EMBEDDING corpus alone (tembs + uembs) — the
    * slice of [[relevanceCorpusCtes]] the graph-relevance oracles
    * (x102–x104) need: the graph family is embedding-only, so pulling
    * the doc CTEs in would drag an irrelevant `documents` dependency
    * into those gates. */
  private[queries] def relevanceEmbCtes: String = {
    import graft.ext.Relevance._
    s"""tembs AS (
       |  SELECT src + $TwinIdOffset AS vec_id,
       |         list_transform(list_zip(embedding, range(0, $EmbeddingDims)), p ->
       |           CAST(p[1] AS DOUBLE)
       |             + CAST(${u16Sql("'qe|' || CAST(src AS VARCHAR) || '|' || CAST(p[2] AS VARCHAR)")} % ${2 * JitterNum + 1} - $JitterNum AS DOUBLE) / $JitterDenom) AS embedding
       |  FROM (SELECT vec_id AS src, embedding FROM embeddings WHERE vec_id < $RelevanceQueries)),
       |uembs AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
       |  FROM embeddings
       |  UNION ALL SELECT vec_id, embedding FROM tembs)""".stripMargin
  }

  private[queries] def relevanceCorpusCtes: String = {
    import graft.ext.Relevance._
    s"""tdocs AS (
       |  SELECT src + $TwinIdOffset AS doc_id,
       |         array_to_string(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |           t -> ${u16Sql("'qt|' || CAST(src AS VARCHAR) || '|' || t")} % $TokenKeepMod <> 0), ' ') AS text
       |  FROM (SELECT doc_id AS src, text FROM documents WHERE doc_id < $RelevanceQueries)),
       |$relevanceEmbCtes,
       |udocs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM tdocs),
       |q AS (
       |  SELECT doc_id AS q_id FROM documents
       |  WHERE doc_id < $RelevanceQueries
       |    AND doc_id IN (SELECT vec_id FROM uembs))""".stripMargin
  }

  /** One arm's fusion + relevance-hit row for the x98 oracle: the
    * x79/x84 full-outer RRF fusion spelling over the given lexical/dense
    * shortlist CTEs, reduced to the (arm, n_queries, hits_at_1,
    * hits_at_k) integer row — a hit is the query's OWN twin
    * (doc_id = q_id + TwinIdOffset) inside the fused top-k. */
  private[queries] def relevanceArmHitsSql(arm: String, lexRel: String,
                                  vecRel: String): String = {
    import graft.ext.Relevance.TwinIdOffset
    s"""fused_$arm AS (
       |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
       |         COALESCE(l.id, v.id) AS doc_id, l.lex_rnk, v.vec_rnk
       |  FROM $lexRel l FULL OUTER JOIN $vecRel v ON l.q_id = v.q_id AND l.id = v.id),
       |fr_$arm AS (
       |  SELECT q_id, doc_id, lex_rnk, vec_rnk,
       |         COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(lex_rnk AS DOUBLE)), CAST(0 AS DOUBLE))
       |         + COALESCE(CAST(1 AS DOUBLE) / (CAST($RrfC AS DOUBLE) + CAST(vec_rnk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
       |  FROM fused_$arm),
       |rr_$arm AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
       |  FROM fr_$arm),
       |hits_$arm AS (
       |  SELECT '$arm' AS arm,
       |         (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
       |         CAST(count(CASE WHEN doc_id = q_id + $TwinIdOffset AND rnk = 1 THEN 1 END) AS BIGINT) AS hits_at_1,
       |         CAST(count(CASE WHEN doc_id = q_id + $TwinIdOffset AND rnk <= $HybridTopK THEN 1 END) AS BIGINT) AS hits_at_k,
       |         CAST(count(CASE WHEN doc_id = q_id + $TwinIdOffset AND lex_rnk IS NOT NULL THEN 1 END) AS BIGINT) AS hits_lex,
       |         CAST(count(CASE WHEN doc_id = q_id + $TwinIdOffset AND vec_rnk IS NOT NULL THEN 1 END) AS BIGINT) AS hits_vec
       |  FROM rr_$arm)""".stripMargin
  }

  /** The deterministic token-stuffed corpus, oracle side — mirrors
    * [[graft.ext.Retrieval.stuffedDocs]] cell for cell: global top-K
    * tokens in (count DESC, token) order (DuckDB's ordered `list(...
    * ORDER BY ...)` aggregate ≡ the engine's array_sort over negated
    * counts), each repeated StuffReps times, appended to the
    * u16-selected 1-in-StuffModulo docs. `sdocs` carries (doc_id, text).
    * The stuffed append is COALESCE(text || ' ' || stuffing, stuffing)
    * to mirror the engine's concat_ws NULL-skipping — a NULL-text doc
    * stuffs to the bare stuffing string on both engines. */
  private[queries] def stuffedCorpusCtes: String = {
    import graft.ext.Retrieval._
    s"""stop AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
       |        FROM documents)
       |  GROUP BY 1 ORDER BY n DESC, token LIMIT $StuffTopK),
       |sstr AS (
       |  SELECT array_to_string(flatten(
       |           list(list_transform(range(0, $StuffReps), i -> token)
       |                ORDER BY n DESC, token)), ' ') AS stuffing
       |  FROM stop),
       |sdocs AS (
       |  SELECT doc_id,
       |         CASE WHEN ${u16Sql("'stuff|' || CAST(doc_id AS VARCHAR)")} % $StuffModulo = 0
       |              THEN COALESCE(text || ' ' || stuffing, stuffing) ELSE text END AS text
       |  FROM documents, sstr)""".stripMargin
  }

  /** One graph arm's relevance-hit row for the x102–x104 oracles: the
    * given ranked-edge CTE (`gr` for the IVF chain, `g8` for the SQ8
    * chain — built over `uembs`) restricted to query sources and
    * reduced to (arm, n_queries, hits_at_1, hits_at_k, hit_rate) — a
    * hit is the query's OWN twin (nbr_id = src_id + TwinIdOffset)
    * among its top-[[KnnGraphK]] edges. Mirrors
    * [[graft.ext.Relevance.graphHitsAtK]]; `gq` (the query-id CTE) is
    * emitted here so each gate's SQL stays a single WITH chain. */
  private[queries] def graphRelevanceHitsSql(arm: String, rel: String): String = {
    import graft.ext.Relevance.TwinIdOffset
    s"""gq AS (
       |  SELECT vec_id AS q_id FROM embeddings WHERE vec_id < $RelevanceQueries)
       |SELECT '$arm' AS arm,
       |       (SELECT CAST(count(*) AS BIGINT) FROM gq) AS n_queries,
       |       CAST(count(CASE WHEN nbr_id = src_id + $TwinIdOffset AND rnk = 1 THEN 1 END) AS BIGINT) AS hits_at_1,
       |       CAST(count(CASE WHEN nbr_id = src_id + $TwinIdOffset AND rnk <= $KnnGraphK THEN 1 END) AS BIGINT) AS hits_at_k,
       |       CAST(count(CASE WHEN nbr_id = src_id + $TwinIdOffset AND rnk <= $KnnGraphK THEN 1 END) AS DOUBLE)
       |         / (SELECT CAST(count(*) AS DOUBLE) FROM gq) AS hit_rate
       |FROM $rel
       |WHERE rnk <= $KnnGraphK AND src_id IN (SELECT q_id FROM gq)
       |ORDER BY arm""".stripMargin
  }

  private[queries] def knnEdgeCtes: String = knnEdgeCtesFrom("embeddings")

  /** The x78 banded-graph CTE chain over an arbitrary (vec_id, embedding)
    * source CTE — `embeddings` for x81/x82/x85/x92, the planted `pe` for
    * x95/x96. */
  private[queries] def knnEdgeCtesFrom(src: String): String =
    s"""qv AS (
       |  SELECT vec_id, ${quantSql("embedding")} AS v FROM $src),
       |n AS (
       |  SELECT vec_id, v, ${dotSql("v", "v")} AS norm_sq FROM qv),
       |e AS (
       |${sampledBandRowsSql(SampledBands, SampledBandBits, EmbeddingDims, SampledSeed)}),
       |c AS (
       |  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
       |  FROM e a JOIN e b ON a.bk = b.bk AND a.vec_id <> b.vec_id),
       |scored AS (
       |  SELECT src_id, nbr_id,
       |         CAST(${dotSql("ns.v", "nn.v")} AS DOUBLE)
       |           / (sqrt(CAST(ns.norm_sq AS DOUBLE)) * sqrt(CAST(nn.norm_sq AS DOUBLE))) AS cosine
       |  FROM c JOIN n ns ON ns.vec_id = c.src_id JOIN n nn ON nn.vec_id = c.nbr_id),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src_id ORDER BY cosine DESC, nbr_id) AS BIGINT) AS rnk
       |  FROM scored)""".stripMargin

  // tf-weighted: the inner sum runs over every token occurrence (dt is
  // the raw token list, not list_distinct) — mirrors Dedup.simhash.
  private[queries] val simhashSql: String =
    """CAST(list_sum(list_transform(range(0, 32), j ->
      |  CASE WHEN list_sum(list_transform(dt, t ->
      |         CASE WHEN substr(md5(j::VARCHAR || '|' || t), 1, 1) >= '8'
      |              THEN 1 ELSE -1 END)) > 0
      |       THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** x43's snapshot synthesis, oracle side — one SELECT per version from
    * the SAME (salt, frac, delta) constants as the Spark generator;
    * version v applies every delta u <= v (cumulative). */
  private[queries] def scdVersionRowsSql: String =
    (1 to ScdVersions).map { v =>
      val bumps = (2 to v).map(u =>
        s"(CASE WHEN substr(md5(CAST(k AS VARCHAR) || 'v$u'), 1, 8) < '${Sampling.cutFor(ScdTouchFrac)}' THEN $CdcPriceDelta ELSE 0.0 END)")
      val expr = ("p0" +: bumps).mkString(" + ")
      s"  SELECT k, CAST($v AS BIGINT) AS version, $expr AS price FROM base"
    }.mkString("\n  UNION ALL\n")

  /** Winnowing selection, oracle side — mirrors TextOps.winnowFingerprints
    * exactly: POSITIONAL k-gram md5s (DuckDB list_slice bounds are
    * INCLUSIVE, hence the +k−1 ends), full windows when the hash sequence
    * covers the window, one global-min window otherwise, list_distinct
    * last. Geometry interpolated from the same WinnowK/WinnowWin
    * constants as the Spark expression. */
  private[queries] def winnowCte: String =
    s"""wtoks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
       |  FROM documents),
       |wh AS (
       |  SELECT doc_id,
       |         list_transform(range(1, len(t) - ${WinnowK - 1} + 1), i ->
       |           md5(array_to_string(list_slice(t, i, i + ${WinnowK - 1}), ' '))) AS hs
       |  FROM wtoks),
       |wf AS (
       |  SELECT doc_id,
       |         CASE WHEN len(hs) >= 1 THEN
       |           list_distinct(list_transform(
       |             range(1, greatest(len(hs) - ${WinnowWin - 1}, 1) + 1), j ->
       |               list_min(list_slice(hs, j, j + ${WinnowWin - 1}))))
       |         ELSE CAST([] AS VARCHAR[]) END AS fps
       |  FROM wh)""".stripMargin

  /** The exact n-gram Jaccard pair set — shared verbatim by x02 (the full
    * inverted-index join) and x51 (the AllPairs prefix-filtered join):
    * the prefix filter is recall-exact, so both algorithms must reproduce
    * this single ground-truth pair set. */
  private[queries] val ngramJaccardSql: String =
    s"""WITH $shinglesCte,
       |idx AS (SELECT doc_id AS id, unnest(sh) AS shingle FROM sh),
       |sizes AS (SELECT id, count(*) AS n FROM idx GROUP BY 1),
       |common AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
       |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_common,
       |       CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |FROM common
       |JOIN sizes sa ON id_a = sa.id
       |JOIN sizes sb ON id_b = sb.id
       |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= $JaccardThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Transitive-closure cluster summary over the x03 pair graph — shared
    * verbatim by x20 (propagation) and x20_star (large-star/small-star):
    * both Spark algorithms must converge to this single fixpoint. */
  private[queries] val dupClustersSql: String =
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
       |SELECT label AS canonical_id, count(*) AS n_members
       |FROM lab GROUP BY label
       |HAVING count(*) > 1
       |ORDER BY canonical_id""".stripMargin
}
