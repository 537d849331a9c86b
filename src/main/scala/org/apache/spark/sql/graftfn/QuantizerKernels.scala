package org.apache.spark.sql.graftfn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** A trained `centroidFold` state (graft.ext.Similarity) held on the
  * driver, in the form the quantizer kernels read: one entry per cell,
  * sorted by c_label — the label, n, the per-cell constant ss/(n·n) and
  * the per-dim integer sums s. The kernels score a vector v against cell
  * i as
  *
  *   t = ss/(n·n) − (2·dot(v, s))/n        (Lloyd argmin, probe ranking)
  *   term = dot(v, s)/n                    (PQ ADC table)
  *
  * with the operands, casts and operation order of the SQL spelling the
  * DuckDB oracle replays (`CAST(ss AS DOUBLE) / CAST(n * n AS DOUBLE) −
  * (2.0 * CAST(dot AS DOUBLE)) / CAST(n AS DOUBLE)`): ss/(n·n) is the same
  * two conversions and one divide whether done here once or per row, the
  * dot is exact int64 (DotProductLong's loop: min length, null elements
  * add nothing), and no step is fused or reordered, so every double is
  * bit-identical to the oracle's.
  *
  * Generated code reads the state through `ctx.addReferenceObj`, so the
  * generated source does not depend on it: a new trained state, or the
  * same state in a new cache epoch, reuses the compiled classes. Equality
  * is by content, so two plans over equal states are equal and the
  * CacheManager dedupes them.
  *
  * Size: the state is serialized into every task binary of a consuming
  * stage, 8 bytes per value. [[CellState.of]] refuses a state of more than
  * [[CellState.MaxValues]] values (Σ over cells of d + 3, ≈ 1 MB; Spark
  * warns about task binaries over 1000 KiB): 32 cells × (64 + 3) = 2,144
  * values for the coarse quantizer, 512 × (8 + 3) = 5,632 for the PQ
  * codebooks.
  */
final class CellState private (
    private val labels: Array[Long], private val n: Array[Double],
    private val ssOverNn: Array[Double], private val sums: Array[Long],
    private val offsets: Array[Int])
  extends Serializable {

  def cells: Int = labels.length

  def label(i: Int): Long = labels(i)

  /** Σ over cells of (d + 3): the values the state carries. */
  def values: Long = sums.length.toLong + 3L * cells

  /** The index of the first cell whose label is ≥ `lo` (`cells` if none):
    * cells [from(lo), from(hi)) are the labels in [lo, hi). */
  def from(lo: Long): Int = {
    var a = 0
    var b = labels.length
    while (a < b) {
      val mid = (a + b) >>> 1
      if (labels(mid) < lo) a = mid + 1 else b = mid
    }
    a
  }

  /** v's coordinates, null elements as 0 (they add nothing to a dot). */
  private def coords(v: ArrayData): Array[Long] = {
    val x = new Array[Long](v.numElements())
    var i = 0
    while (i < x.length) {
      if (!v.isNullAt(i)) x(i) = v.getLong(i)
      i += 1
    }
    x
  }

  private def dot(x: Array[Long], c: Int): Long = {
    val o = offsets(c)
    val len = math.min(x.length, offsets(c + 1) - o)
    var s = 0L
    var i = 0
    while (i < len) { s += x(i) * sums(o + i); i += 1 }
    s
  }

  private def t(x: Array[Long], c: Int): Double =
    ssOverNn(c) - (2.0 * dot(x, c).toDouble) / n(c)

  /** The cell in [lo, hi) (indices) with the least (t, label) — -1 when
    * the range is empty. With v null every t is null, and the least
    * (null, label) is the range's first label. */
  def argmin(v: ArrayData, lo: Int, hi: Int): Int = {
    if (lo >= hi) return -1
    if (v == null) return lo
    val x = coords(v)
    var best = lo
    var bestT = t(x, lo)
    var c = lo + 1
    while (c < hi) {
      val tc = t(x, c)
      if (CellState.compare(tc, bestT) < 0) { best = c; bestT = tc }
      c += 1
    }
    best
  }

  /** The labels of the `k` cells with the least (t, label), in that
    * order (all cells when there are fewer than `k`). */
  def ranked(v: ArrayData, k: Int): ArrayData = {
    val top = new Array[Int](math.min(k, cells))
    if (v == null) {
      var i = 0
      while (i < top.length) { top(i) = i; i += 1 }
    } else {
      val x = coords(v)
      val ts = new Array[Double](cells)
      var size = 0
      var c = 0
      while (c < cells) {
        ts(c) = t(x, c)
        // insertion point: after every kept cell that is not worse
        var p = size
        while (p > 0 && CellState.compare(ts(c), ts(top(p - 1))) < 0) p -= 1
        if (p < top.length) {
          System.arraycopy(top, p, top, p + 1, math.min(size, top.length - 1) - p)
          top(p) = c
          if (size < top.length) size += 1
        }
        c += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(top.map(labels))
  }

  /** The ADC term table of v over cells [lo, hi) (indices): one
    * (code = pmod(label, codes), term = dot(v, s)/n) struct per cell,
    * term null when v is null, sorted by (code, term). */
  def terms(v: ArrayData, lo: Int, hi: Int, codes: Long): ArrayData = {
    val x = if (v == null) null else coords(v)
    val rows = (lo until math.max(lo, hi)).map { c =>
      val code = Math.floorMod(labels(c), codes)
      val term: java.lang.Double =
        if (x == null) null else dot(x, c).toDouble / n(c)
      (code, term)
    }
    val sorted = rows.sortWith { case ((ca, ta), (cb, tb)) =>
      if (ca != cb) ca < cb
      else if (ta == null || tb == null) ta == null && tb != null
      else CellState.compare(ta, tb) < 0
    }
    new GenericArrayData(sorted.map { case (c, tm) => InternalRow(c, tm): Any })
  }

  override def equals(o: Any): Boolean = o match {
    case s: CellState =>
      java.util.Arrays.equals(labels, s.labels) &&
        java.util.Arrays.equals(n, s.n) &&
        java.util.Arrays.equals(ssOverNn, s.ssOverNn) &&
        java.util.Arrays.equals(sums, s.sums) &&
        java.util.Arrays.equals(offsets, s.offsets)
    case _ => false
  }

  override def hashCode: Int =
    java.util.Arrays.hashCode(labels) * 31 + java.util.Arrays.hashCode(sums)

  override def toString: String = s"CellState($cells cells, $values values)"
}

object CellState {
  /** The largest state a kernel carries in its task binaries: ~1 MB. */
  val MaxValues = 100000L

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): -0.0 and
    * 0.0 tie, NaN is the largest value and equals itself. */
  def compare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** The state of a driver-held `centroidFold` relation — a Dataset whose
    * analyzed plan IS a LocalRelation with columns (c_label, n, ss, s), as
    * the Lloyd/PQ trainers return. The rows are read from the plan node;
    * no Spark job runs. Throws naming `caller` when `stats` is not
    * driver-held (a derived or executor-backed plan would have to run a
    * job per call), or when its state is larger than [[MaxValues]]. */
  def of(stats: DataFrame, caller: String): CellState =
    stats.queryExecution.analyzed match {
      case l: LocalRelation =>
        val schema = l.schema
        val (ci, ni, si, vi) = (schema.fieldIndex("c_label"),
          schema.fieldIndex("n"), schema.fieldIndex("ss"), schema.fieldIndex("s"))
        val ssType = schema("ss").dataType.asInstanceOf[DecimalType]
        val rows = l.data.sortBy(_.getLong(ci)).toArray
        val labels = rows.map(_.getLong(ci))
        require(labels.distinct.length == labels.length,
          s"$caller: trained state has a repeated c_label")
        val values = rows.map(_.getArray(vi).numElements().toLong + 3L).sum
        if (values > MaxValues)
          throw new IllegalArgumentException(s"$caller: trained state holds " +
            s"$values values, more than the $MaxValues a task binary carries")
        val ns = rows.map(_.getLong(ni))
        require(ns.forall(_ > 0), s"$caller: trained state has a cell with n <= 0")
        val ssOverNn = rows.zip(ns).map { case (r, cn) =>
          r.getDecimal(si, ssType.precision, ssType.scale).toDouble /
            Math.multiplyExact(cn, cn).toDouble
        }
        val offsets = rows.scanLeft(0)(_ + _.getArray(vi).numElements())
        val sums = rows.flatMap(_.getArray(vi).toLongArray())
        new CellState(labels, ns.map(_.toDouble), ssOverNn, sums, offsets)
      case p =>
        throw new IllegalArgumentException(s"$caller: expected driver-held " +
          s"trained state (a LocalRelation, as the Lloyd/PQ trainers " +
          s"return), got a ${p.nodeName} plan")
    }
}

/** The argmin cell of `v` (array<bigint>) over a [[CellState]]: the label
  * of the cell with the least (t, label), restricted to labels in
  * [lo, hi) when `range` = Seq(lo, hi) is given (null bounds select no
  * cell). Null when no cell is in range. One call per row into
  * [[CellState.argmin]], inside whole-stage codegen. */
case class CellArgmin(v: Expression, range: Seq[Expression], state: CellState)
  extends Expression with ExpectsInputTypes {
  require(range.isEmpty || range.length == 2, "range is Seq() or Seq(lo, hi)")

  override def children: Seq[Expression] = v +: range
  override def inputTypes: Seq[AbstractDataType] =
    ArrayType(LongType) +: range.map(_ => LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cell_argmin"

  override def eval(input: InternalRow): Any = {
    val (lo, hi) = CellKernels.evalRange(range, state, input)
    val i = state.argmin(v.eval(input).asInstanceOf[ArrayData], lo, hi)
    if (i < 0) null else state.label(i)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("cellState", state, classOf[CellState].getName)
    val x = v.genCode(ctx)
    val (rangeCode, lo, hi) = CellKernels.genRange(ctx, range, st)
    val i = ctx.freshName("cell")
    ev.copy(code = code"""
      |${x.code}
      |$rangeCode
      |int $i = $st.argmin(${x.isNull} ? null : ${x.value}, $lo, $hi);
      |boolean ${ev.isNull} = $i < 0;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${ev.isNull} ? -1L : $st.label($i);
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CellArgmin = copy(v = c.head, range = c.tail)
}

/** The labels of `v`'s `nprobe` nearest cells of a [[CellState]], ranked
  * by (t, label): array<bigint>, never null (a null `v` ranks the cells
  * by label alone, as its null t values tie). */
case class CellRanking(v: Expression, state: CellState, nprobe: Int)
  extends Expression with ExpectsInputTypes {
  require(nprobe >= 0, s"nprobe must be >= 0, got $nprobe")

  override def children: Seq[Expression] = Seq(v)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cell_ranking"

  override def eval(input: InternalRow): Any =
    state.ranked(v.eval(input).asInstanceOf[ArrayData], nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("cellState", state, classOf[CellState].getName)
    val x = v.genCode(ctx)
    ev.copy(code = code"""
      |${x.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $st.ranked(${x.isNull} ? null : ${x.value}, $nprobe);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CellRanking = copy(v = c.head)
}

/** The PQ ADC term table of `v` over the cells of a [[CellState]] whose
  * labels are in [lo, hi): array<struct<code, term>>, code =
  * pmod(label, codes), term = dot(v, s)/n (null when `v` is null),
  * sorted by code — the table [[AdcScore]] looks codes up in. Empty when
  * no cell is in range or a bound is null. */
case class CellTerms(v: Expression, lo: Expression, hi: Expression,
                     state: CellState, codes: Int)
  extends Expression with ExpectsInputTypes {
  require(codes > 0, s"codes must be > 0, got $codes")

  override def children: Seq[Expression] = Seq(v, lo, hi)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), LongType, LongType)
  override def dataType: DataType = CellKernels.TermsType
  override def nullable: Boolean = false
  override def prettyName: String = "cell_terms"

  override def eval(input: InternalRow): Any = {
    val (a, b) = CellKernels.evalRange(Seq(lo, hi), state, input)
    state.terms(v.eval(input).asInstanceOf[ArrayData], a, b, codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("cellState", state, classOf[CellState].getName)
    val x = v.genCode(ctx)
    val (rangeCode, a, b) = CellKernels.genRange(ctx, Seq(lo, hi), st)
    ev.copy(code = code"""
      |${x.code}
      |$rangeCode
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $st.terms(${x.isNull} ? null : ${x.value}, $a, $b, ${codes}L);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CellTerms =
    copy(v = c(0), lo = c(1), hi = c(2))
}

/** The m-term ADC score of a candidate: `bias` (when given) plus, for
  * each subspace s in order, the term of the query's table `lut[s]` whose
  * code equals the candidate's `code[s]`, folded left to right —
  * ((bias + t0) + t1) + … — exactly as the explicit `+` chain of
  * `element_at(filter(element_at(lut, s + 1), t -> t.code =
  * element_at(code, s + 1)), 1).term` it replaces, including where that
  * chain stops: null at the first null operand (later subspaces are not
  * read), and a failure where element_at fails under ANSI mode — a
  * subspace past the end of `lut` or `code`, or a code its table lacks,
  * which means the codes and tables come from different codebooks. */
case class AdcScore(lut: Expression, code: Expression, bias: Option[Expression],
                    m: Int)
  extends Expression with ExpectsInputTypes {
  require(m >= 1, s"m must be >= 1, got $m")

  override def children: Seq[Expression] = Seq(lut, code) ++ bias
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(CellKernels.TermsType), ArrayType(LongType)) ++ bias.map(_ => DoubleType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  /** The score, boxed; null for a null score. `b` is the bias value,
    * read only when `bias` is given. */
  def score(l: ArrayData, c: ArrayData, b: Double): java.lang.Double = {
    var acc = b
    var s = 0
    while (s < m) {
      val term = termAt(l, c, s)
      if (term == null) return null
      acc = if (s == 0 && bias.isEmpty) term else acc + term
      s += 1
    }
    acc
  }

  /** element_at(filter(element_at(l, s + 1), t -> t.code =
    * element_at(c, s + 1)), 1).term */
  private def termAt(l: ArrayData, c: ArrayData, s: Int): java.lang.Double = {
    val table = arrayAt(l, s)
    if (table == null) return null
    var i = 0
    while (i < table.numElements()) {
      if (!table.isNullAt(i)) {
        val e = table.getStruct(i, 2)
        if (!e.isNullAt(0) && c != null) {
          if (s >= c.numElements()) outOfBounds(s, c.numElements())
          if (!c.isNullAt(s) && e.getLong(0) == c.getLong(s))
            return if (e.isNullAt(1)) null else e.getDouble(1)
        }
      }
      i += 1
    }
    outOfBounds(0, 0)
  }

  private def arrayAt(l: ArrayData, s: Int): ArrayData =
    if (l == null) null
    else if (s >= l.numElements()) outOfBounds(s, l.numElements())
    else if (l.isNullAt(s)) null
    else l.getArray(s)

  private def outOfBounds(index: Int, size: Int): Nothing =
    throw new ArrayIndexOutOfBoundsException(
      s"adc_score: index ${index + 1} is past the end of an array of $size elements")

  override def eval(input: InternalRow): Any = {
    val b = bias.map(_.eval(input))
    if (b.contains(null)) null
    else score(lut.eval(input).asInstanceOf[ArrayData],
      code.eval(input).asInstanceOf[ArrayData],
      b.fold(0.0)(_.asInstanceOf[Double]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcScore", this)
    val l = lut.genCode(ctx)
    val c = code.genCode(ctx)
    val b = bias.map(_.genCode(ctx))
    val r = ctx.freshName("score")
    ev.copy(code = code"""
      |${l.code}
      |${c.code}
      |${b.fold(code"")(_.code)}
      |boolean ${ev.isNull} = true;
      |double ${ev.value} = -1.0;
      |if (!${b.fold("false")(_.isNull.toString)}) {
      |  java.lang.Double $r = $ref.score(${l.isNull} ? null : ${l.value},
      |    ${c.isNull} ? null : ${c.value}, ${b.fold("0.0")(_.value.toString)});
      |  if ($r != null) {
      |    ${ev.isNull} = false;
      |    ${ev.value} = $r;
      |  }
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AdcScore =
    copy(lut = c(0), code = c(1), bias = c.drop(2).headOption)
}

/** Column entry points of the quantizer kernels and their shared range
  * handling. */
object CellKernels {
  val TermsType: ArrayType = ArrayType(StructType(Seq(
    StructField("code", LongType, nullable = false),
    StructField("term", DoubleType))), containsNull = false)

  /** The index range [from(lo), from(hi)) of labels in [lo, hi) — all
    * cells for Seq(), the empty range 0..0 for a null bound. */
  private[graftfn] def evalRange(range: Seq[Expression], state: CellState,
                                 input: InternalRow): (Int, Int) =
    range match {
      case Seq(lo, hi) =>
        val (a, b) = (lo.eval(input), hi.eval(input))
        if (a == null || b == null) (0, 0)
        else (state.from(a.asInstanceOf[Long]), state.from(b.asInstanceOf[Long]))
      case _ => (0, state.cells)
    }

  /** [[evalRange]] as generated code: (code, lo index, hi index). */
  private[graftfn] def genRange(ctx: CodegenContext, range: Seq[Expression],
                                st: String) =
    range match {
      case Seq(lo, hi) =>
        val (a, b) = (lo.genCode(ctx), hi.genCode(ctx))
        val none = s"(${a.isNull} || ${b.isNull})"
        (code"${a.code}\n${b.code}",
          s"($none ? 0 : $st.from(${a.value}))", s"($none ? 0 : $st.from(${b.value}))")
      case _ => (code"", "0", s"$st.cells()")
    }

  private def column(e: Expression): Column = ExpressionUtils.column(e)
  private def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** The label of `v`'s nearest cell. */
  def argmin(v: Column, state: CellState): Column =
    column(CellArgmin(expr(v), Nil, state))

  /** The label of `v`'s nearest cell among labels in [lo, hi). */
  def argminIn(v: Column, lo: Column, hi: Column, state: CellState): Column =
    column(CellArgmin(expr(v), Seq(expr(lo), expr(hi)), state))

  /** The labels of `v`'s `nprobe` nearest cells, nearest first. */
  def ranked(v: Column, state: CellState, nprobe: Int): Column =
    column(CellRanking(expr(v), state, nprobe))

  /** `v`'s ADC term table over the cells with labels in [lo, hi). */
  def terms(v: Column, lo: Column, hi: Column, state: CellState,
            codes: Int): Column =
    column(CellTerms(expr(v), expr(lo), expr(hi), state, codes))

  /** The m-term ADC score of `code` against `lut`, plus `bias` if given. */
  def adcScore(lut: Column, code: Column, m: Int,
               bias: Option[Column] = None): Column =
    column(AdcScore(expr(lut), expr(code), bias.map(expr), m))
}
