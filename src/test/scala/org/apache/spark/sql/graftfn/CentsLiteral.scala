package org.apache.spark.sql.graftfn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The centroid state as the higher-order-function spellings read it:
  * a driver-held relation's rows packed into ONE literal column,
  * array<struct<its columns>>, in relation order — the reference form the
  * quantizer kernels replaced. Lives under org.apache.spark.sql because
  * ExpressionUtils is private[sql]. */
object CentsLiteral {
  def of(df: DataFrame): Column = {
    val l = df.queryExecution.analyzed.asInstanceOf[LocalRelation]
    val t = ArrayType(l.schema, containsNull = false)
    val packed = UnsafeProjection.create(Array[DataType](t))
      .apply(InternalRow(new GenericArrayData(l.data.toArray[Any])))
      .getArray(0).copy()
    ExpressionUtils.column(Literal(packed, t))
  }
}
