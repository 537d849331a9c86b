package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType, StringType}

/** Planted-structure embedding corpus — the POSITIVE CONTROL for the
  * quality-measurement layer (round 12, the round-11 verdict's #1).
  *
  * Round 11's honest negatives (x92 purity ≈ chance, banded graph recall
  * ≈ 1 %, NN-descent converging at nothing, OPQ identity-optimal) all
  * trace to one corpus fact: the synthetic embeddings are i.i.d.-dim, so
  * "the operator found nothing" and "there is nothing to find" are
  * indistinguishable. This generator plants the structure those
  * operators exist to find — `k` hash-drawn integer centers, each vector
  * = its center + bounded integer jitter, label = the planted center —
  * so every quality claim gains a falsifiable direction: purity SHOULD
  * be ≈ 1, banding recall SHOULD rise (within a cluster all coordinate
  * signs agree, so cluster twins collide in every band), and an operator
  * that still reads chance here has a real bug the i.i.d. corpus hid.
  *
  * Every draw is the engine's portable md5 u16 primitive (the x21/x53
  * hash-split spelling), namespaced by purpose, so the DuckDB oracle
  * replays the corpus cell for cell:
  *  - label(v)      = u16("pc|" v) mod k
  *  - sign(c, d)    = ±1 by u16("cs|" c "|" d) mod 2
  *  - magnitude(c,d)= CenterMin + u16("cm|" c "|" d) mod CenterSpan
  *  - jitter(v, d)  = u16("pj|" v "|" d) mod (2·JitterMax+1) − JitterMax
  * All values are small exact integers (|coord| ∈ [1, CenterMin +
  * CenterSpan − 1 + JitterMax] = [1, 5]), so the float column quantizes
  * with zero rounding and the whole downstream integer kernel is
  * bit-identical to the oracle. CenterMin > JitterMax guarantees jitter
  * NEVER flips a coordinate sign — within a cluster the sign signature
  * is constant by construction (the property the banded-recall
  * prediction rests on), while across clusters signs are independent
  * fair coins.
  *
  * The [1, 5] range is the INTEGER-KERNEL ENVELOPE, not a style choice
  * (a first cut at ±70 overflowed, caught by the sf0.1 oracle): the
  * Lloyd chain's t score computes dot(v, s_cell) in int64, where s_cell
  * sums a cell's quantized coordinates, so |dot| ≤ members·dims·
  * (MaxVal·2^20)² = members·1.76e15 at MaxVal 5 — int64-safe to ~5,200
  * members per cell, comfortably above every gate corpus's worst cell
  * (≈ n/PlantedK ≤ 200) and the same envelope class the |x| ≤ 4 real
  * corpus already occupies. DuckDB catches a violation loudly (HUGEINT
  * → BIGINT cast error); Spark would wrap silently — the oracle is the
  * tripwire.
  *
  * Geometry: |center|² ≈ 64·E[c²] ≈ 620 vs jitter noise ≈ 64·E[j²] ≈ 43
  * — within-cluster cosines concentrate near 0.93–0.97, cross-cluster
  * near 0 ± 0.12 (±1σ), so true top-k neighbors are same-cluster with
  * margin.
  *
  * Scale shape: the generator is a pure per-row projection over any id
  * relation (no shuffle, no state) — at 100 TB it is a mapPartitions-
  * free scan the optimizer fuses into whatever consumes it.
  */
object Planted {
  /** Planted centers — matches the metadata-label cardinality the i.i.d.
    * corpus carries, so chance purity is the same 1/k in both columns of
    * every structured-vs-i.i.d. pair. */
  val PlantedK = 10
  val Dims = 64
  val CenterMin = 2L
  val CenterSpan = 3L
  val JitterMax = 1L

  /** The portable 16-bit hash: first 4 md5 hex digits as an integer —
    * Spark `conv(substring(md5(x),1,4),16,10)`, DuckDB
    * `CAST(('0x' || substr(md5(x),1,4)) AS BIGINT)`. Shared with
    * [[Relevance]] (the perturbed-query twin generator) so the two
    * planted-ground-truth corpora draw from the same primitive. */
  private[ext] def u16(s: Column): Column =
    conv(substring(md5(s), 1, 4), 16, 10).cast(LongType)

  /** (vec_id, label, embedding) with planted cluster structure, one row
    * per id of `ids`. The embedding is float (the stored-corpus schema)
    * holding small exact integers. */
  def vectors(ids: DataFrame, idCol: String, k: Int = PlantedK): DataFrame = {
    val base = ids.select(col(idCol).cast(LongType).as("vec_id"))
      .withColumn("label",
        u16(concat(lit("pc|"), col("vec_id").cast(StringType))) % k)
    base.withColumn("embedding",
      transform(sequence(lit(0), lit(Dims - 1)), d => {
        val ds = d.cast(StringType)
        val ls = col("label").cast(StringType)
        val vs = col("vec_id").cast(StringType)
        val sign = when(u16(concat(lit("cs|"), ls, lit("|"), ds)) % 2 === 0L,
          lit(1L)).otherwise(lit(-1L))
        val mag = lit(CenterMin) +
          u16(concat(lit("cm|"), ls, lit("|"), ds)) % CenterSpan
        val jit = u16(concat(lit("pj|"), vs, lit("|"), ds)) %
          (2L * JitterMax + 1L) - lit(JitterMax)
        (sign * mag + jit).cast(FloatType)
      }))
  }
}
