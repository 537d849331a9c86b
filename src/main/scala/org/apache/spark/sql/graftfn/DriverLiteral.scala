package org.apache.spark.sql.graftfn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType}

/** A driver-held relation — a Dataset whose analyzed plan IS a
  * [[LocalRelation]], as `createDataFrame` over driver rows makes — packed
  * into ONE literal column: `array<struct<its columns>>`, its rows in
  * relation order, stored as a single UnsafeArrayData (one byte region, so
  * it serializes as bytes and two packs of equal rows are equal, which
  * keeps the CacheManager deduping plans that carry it). The rows are read
  * from the plan node; no Spark job runs.
  *
  * Lives under org.apache.spark.sql because ExpressionUtils (the
  * Expression↔Column bridge in Spark 4) is private[sql].
  */
object DriverLiteral {
  /** The packed rows of `df`; throws naming `caller` when `df` is not a
    * driver-held relation (a derived or executor-backed plan would have
    * to run a job per call to pack). */
  def rowsArray(df: DataFrame, caller: String): Column =
    df.queryExecution.analyzed match {
      case l: LocalRelation =>
        val t = ArrayType(l.schema, containsNull = false)
        val packed = UnsafeProjection.create(Array[DataType](t))
          .apply(InternalRow(new GenericArrayData(l.data.toArray[Any])))
          .getArray(0).copy()
        ExpressionUtils.column(Literal(packed, t))
      case p =>
        throw new IllegalArgumentException(s"$caller: expected driver-held " +
          s"trained state (a LocalRelation, as the Lloyd/PQ trainers " +
          s"return), got a ${p.nodeName} plan")
    }
}
