package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Ranking / top-k idioms (SURVEY.md §2.5–2.6).
  *
  * The reference's house idiom is "aggregate, then rank, then filter rank"
  * (reference SQL_file.sql:76–89, :96–114, :178–197). Two shapes:
  *
  *  - per-group top-N → `dense_rank`/`row_number` over a partitioned window
  *    (scales: each partition ranks independently after the shuffle; Spark
  *    ≥3.5 additionally pushes the `rnk <= k` filter into
  *    `WindowGroupLimitExec`, so no partition ever materializes more than k
  *    ranked rows per group — verified in ChinookPlanSpec).
  *  - global top-N → `orderBy(...).limit(k)` which plans as
  *    `TakeOrderedAndProject` (a true distributed top-k: each partition
  *    keeps k rows, the driver merges — no global sort). The unpartitioned
  *    `RANK() OVER (ORDER BY ...)` of the reference (SQL_file.sql:31,:155)
  *    would collapse to a single partition at 100 TB; ranking *after* the
  *    limit is semantically identical under a total order and scale-safe.
  *
  * Every ordering used for ranking must be a total order (deterministic
  * tiebreak key last) — `row_number` under ties is nondeterministic and
  * would break DuckDB-oracle parity (SURVEY.md §5.3).
  */
object TopK {
  /** Keep the top `k` rows per group, ranked by `order` (must end with a
    * unique tiebreak column, so the kept set is deterministic). Adds
    * `rankCol` (long, row_number semantics: 1..min(k, group size)). The
    * one literal-k top-k tail of the engine: every ANN search, graph
    * build, hybrid-retrieval arm and per-group cap ends here.
    *
    * Scale shape: one hash-shuffle on the group key, then Spark ≥3.5
    * plans the rank-filter as WindowGroupLimit — each partition keeps at
    * most `k` rows per group in a bounded buffer instead of
    * materializing and sorting whole groups (a flooding group is exactly
    * the one you cannot afford to materialize). */
  def perGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column], k: Int,
               rankCol: String = "rnk"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w).cast(LongType))
      .filter(col(rankCol) <= k)
  }

  /** Keep the top `k` rows per group, ranked by `order` (must end with a
    * unique tiebreak column). Adds `rnk` (long, dense_rank semantics). */
  def perGroupDense(df: DataFrame, partition: Seq[Column], order: Seq[Column], k: Int,
                    rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn(rankCol, dense_rank().over(w).cast(LongType))
      .filter(col(rankCol) <= k)
  }

  /** Exactly one row per group (reference's ROW_NUMBER()=1 idiom,
    * SQL_file.sql:97,:179). */
  def perGroupFirst(df: DataFrame, partition: Seq[Column], order: Seq[Column],
                    rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w).cast(LongType))
      .filter(col(rankCol) === 1)
      .drop(rankCol)
  }

  /** Global top-k with a rank column, scale-safe: TakeOrderedAndProject
    * first (top-k without a global sort), then rank the k survivors — under
    * a total order this equals ranking the full input and filtering. */
  def globalTopK(df: DataFrame, order: Seq[Column], k: Int,
                 rankCol: String = "rnk"): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn(rankCol, rank().over(Window.orderBy(order: _*)).cast(LongType))
}
