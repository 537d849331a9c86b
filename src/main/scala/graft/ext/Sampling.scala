package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic sampling for dataset mixing (SURVEY.md §2.13 x21).
  *
  * Training-data pipelines sample by HASH, not by RNG: the selection is a
  * pure function of the row id, so re-runs, backfills, and incremental
  * appends all select the same rows, and the complement (the held-out
  * set) is exactly the non-selected rows. Two variants with different
  * exactness/cost trades:
  *
  *  - [[hashThresholdSample]]: keep rows whose md5(id) prefix falls below
  *    a threshold — scan-only, zero shuffles, O(1) per row; per-stratum
  *    counts are binomial around n·frac, not exact. This is THE 100 TB
  *    shape (a filter pushed into the scan pipeline).
  *  - [[stratifiedExactSample]]: rank rows inside each stratum by hash
  *    and keep exactly ceil(n·frac) — exact per-stratum counts at the
  *    cost of one per-stratum sort (a partitioned window; the stratum
  *    cardinality is the scale knob, and the hash order makes the kept
  *    set independent of any upstream ordering).
  *
  * Both are bit-portable to the DuckDB oracle: md5 hex is identical in
  * both engines, and lexicographic comparison of fixed-width lowercase
  * hex equals numeric comparison of the underlying value.
  */
object Sampling {
  /** md5-hex of the id column's canonical string form — the shared sort /
    * threshold key. CAST(long AS STRING) renders identically ("42") in
    * Spark and DuckDB, so the hashes agree byte-for-byte. */
  private def hashKey(idCol: Column): Column = md5(idCol.cast("string"))

  /** Scan-only deterministic sample: keep rows with
    * md5(id)[0,8) < hex(round(frac · 2³²)). `frac` should be exactly
    * representable in binary (0.25, 0.5, 0.125…) so the threshold is the
    * intended one on both engines. */
  def hashThresholdSample(df: DataFrame, idCol: String, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of range: $frac")
    // Any frac whose rounded threshold reaches 2³² must short-circuit —
    // not just exactly 1.0: round((1−2⁻³⁴)·2³²) = 0x100000000 formats as
    // the NINE-char "100000000", and comparing an 8-char hex prefix
    // against it lexicographically keeps only hashes < 0x10000001 (~1/16
    // of rows) instead of ~all of them. Keeping everything is the correct
    // semantic for a fraction within 2⁻³³ of 1 (cutFor encodes the same
    // rule as KeepAllCut; here we also skip the per-row md5 entirely).
    if (cutFor(frac) == KeepAllCut) df
    else df.filter(hashThresholdPredicate(col(idCol), frac))
  }

  /** The keep-this-row predicate of [[hashThresholdSample]], exposed so
    * composite operators (x28's eval-set split uses it AND its negation)
    * share the one spelling of the md5-prefix comparison — the oracle
    * twin is interpolated from [[cutFor]] on the same constants. */
  def hashThresholdPredicate(idCol: Column, frac: Double): Column =
    substring(hashKey(idCol), 1, 8) < lit(cutFor(frac))

  /** Salted variant: hash of `id || salt` — gives INDEPENDENT
    * deterministic membership draws from one id column (x37's snapshot
    * splits need three: old-membership, new-membership, touched-rows).
    * Oracle twin: `substr(md5(CAST(id AS VARCHAR) || '<salt>'), 1, 8) <
    * '<cutFor(frac)>'`. */
  def saltedHashPredicate(idCol: Column, salt: String, frac: Double): Column =
    substring(md5(concat(idCol.cast("string"), lit(salt))), 1, 8) <
      lit(cutFor(frac))

  /** Leakage-safe train/val/test assignment: the deterministic hash draw
    * runs over each document's duplicate-CLUSTER key, not its own id, so
    * every member of a near-dup family lands in the same split — the
    * contamination guarantee a pretraining corpus split needs (a test
    * document whose near-duplicate sits in train is a leaked test
    * document; splitting by doc id produces exactly that whenever a
    * cluster straddles the cut).
    *
    * `labels` is a (v, label) component relation from
    * [[Dedup.connectedComponents]] (or the star form — same contract)
    * over the near-dup pair graph; documents absent from it (never paired
    * with anything) key off their own id, which IS their singleton
    * cluster's canonical label. The split draw is the x21/x37 salted
    * md5-prefix comparison, engine-portable and re-run/backfill-stable:
    * appending documents never reassigns existing ones, because each
    * key's draw is a pure function of the key.
    *
    * Scale shape: one equi-join against the label relation (sized by the
    * pair-graph vertex count — the duplicate subset of the corpus, which
    * AQE broadcasts when small) plus a scan-only projection. No shuffle
    * of the corpus itself, no global sort, no RNG. */
  def clusterSplit(docs: DataFrame, idCol: String, labels: DataFrame,
                   trainFrac: Double, valFrac: Double,
                   salt: String = "split"): DataFrame = {
    require(trainFrac > 0.0 && valFrac > 0.0 && trainFrac + valFrac < 1.0,
      s"need 0 < trainFrac, 0 < valFrac, trainFrac + valFrac < 1; " +
        s"got $trainFrac / $valFrac")
    val lab = labels.select(col("v").as(idCol), col("label"))
    val key = coalesce(col("label"), col(idCol))
    val draw = substring(md5(concat(key.cast("string"), lit(salt))), 1, 8)
    docs.select(col(idCol))
      .join(lab, Seq(idCol), "left")
      .select(col(idCol), key.as("split_key"),
        when(draw < lit(cutFor(trainFrac)), lit("train"))
          .when(draw < lit(cutFor(trainFrac + valFrac)), lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** The 8-hex-char threshold [[hashThresholdSample]] compares against —
    * the SINGLE source of the cut formula, used by the Spark filter above
    * and interpolated into oracle SQL, so the two sides cannot silently
    * diverge when `frac` changes. Throws for fractions so close to 1
    * that no 8-char cut exists (callers short-circuit those). */
  def hashCut(frac: Double): String = {
    val cut = math.round(frac * 4294967296.0)
    require(cut < 4294967296L, s"no 8-char cut for frac=$frac (threshold rounds to 2^32)")
    f"$cut%08x"
  }

  /** The keep-everything threshold for per-stratum fractions of 1.0: 'g'
    * sorts after every lowercase hex digit, so `md5prefix < "g"` is
    * always true — the CASE ladder stays a pure string comparison with
    * no special-cased branch shape. */
  val KeepAllCut = "g"

  /** THE cut-selection rule, in one place: the 8-hex-char threshold for
    * `frac`, or [[KeepAllCut]] when the rounded threshold reaches 2³²
    * (any fraction within 2⁻³³ of 1 — a 9-char cut would compare wrong,
    * see hashThresholdSample). Every consumer — the Spark filters here
    * and the oracle-SQL CASE ladders in the query registry — goes
    * through this helper, so the engine and the oracle cannot drift. */
  def cutFor(frac: Double): String = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of range: $frac")
    if (math.round(frac * 4294967296.0) >= 4294967296L) KeepAllCut
    else hashCut(frac)
  }

  /** Dataset mixing: per-stratum deterministic hash sampling with a
    * weights map — "web 50 %, books 25 %, code 100 %" as one scan-only
    * filter. Each row computes md5(id) once and compares it against its
    * stratum's cut (a CASE over the small weights map, codegen'd);
    * strata absent from the map are dropped entirely. Zero shuffles,
    * re-run/backfill-stable, and nested: lowering a stratum's weight
    * keeps a strict subset of its rows — the properties a 100 TB
    * mixture re-balance needs. Cuts come from [[hashCut]] / [[KeepAllCut]],
    * the same constants callers interpolate into oracle SQL. */
  def weightedMixtureSample(df: DataFrame, idCol: String, stratumCol: String,
                            weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "empty weights map")
    weights.foreach { case (k, f) =>
      require(f > 0.0 && f <= 1.0, s"weight out of range for $k: $f") }
    val cut = weights.toSeq.sortBy(_._1).foldLeft(lit(null).cast("string")) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(cutFor(f))).otherwise(acc)
    }
    df.filter(substring(hashKey(col(idCol)), 1, 8) < cut)
  }

  /** Exact stratified sample: within each stratum, rank by (hash, id) and
    * keep rank ≤ ceil(n_stratum · frac). Output keeps the rank as `rnk`
    * (the kept set for a smaller fraction is always a prefix — nested
    * samples for free). */
  def stratifiedExactSample(df: DataFrame, stratumCol: String, idCol: String,
                            frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac out of range: $frac")
    val byStratum = Window.partitionBy(col(stratumCol))
    val w = byStratum.orderBy(hashKey(col(idCol)), col(idCol))
    df.withColumn("rnk", row_number().over(w).cast(LongType))
      .withColumn("_n", count(lit(1)).over(byStratum))
      .filter(col("rnk") <= ceil(col("_n") * frac))
      .drop("_n")
  }

  /** Best-first budget selection over a scored corpus — the scale-safe
    * form of "take documents in quality order until the token budget is
    * met". The naive form (global sort by score + running sum over every
    * document) is an unpartitioned window over un-reduced input — the
    * exact shape the PlanSpec fleet gate forbids at corpus scale.
    * Instead: the corpus reduces to ≤ `buckets`+1 score bins with ONE
    * map-side-combinable aggregate, the tiny bin table takes a
    * cumulative sum best-bin-first (a window over REDUCED input, the
    * same post-aggregation idiom as q09's genre ranks), and selection
    * keeps bins while the budget is not yet met — the bin that crosses
    * the budget is included, so the kept weight reaches the budget
    * whenever the corpus can supply it. The budget is honored to bin
    * resolution; a production build tightens `buckets`, not the
    * algorithm. Returns the per-bin table (bucket desc = best first)
    * with integer cumulative weights; the kept corpus is a scan filter
    * against the selected bin list (broadcast-small by construction). */
  def budgetBuckets(df: DataFrame, scoreCol: Column, weightCol: Column,
                    budget: Long, buckets: Int = 100): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val b = df.select(
        least(floor(scoreCol * buckets), lit(buckets)).cast(LongType).as("bucket"),
        weightCol.cast(LongType).as("w"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("bucket_tokens"))
    val w = Window.orderBy(desc("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
      .filter(col("cum_tokens") - col("bucket_tokens") < budget)
  }
}
