package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.{CellKernels, CellState, CentsLiteral}
import org.apache.spark.sql.types._

import graft.ext.{ExtCaches, Similarity}
import graft.tables.Tables

/** The quantizer kernels (graftfn.CellKernels) equal, bit for bit, the
  * higher-order-function spellings they replaced — kept here as the
  * reference — on sf0.001 embeddings and on hand-built adversarial
  * state, both whole-stage codegen'd and interpreted. */
class QuantizerKernelSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // ---- the reference spellings, over the packed cents literal ----

  private def tScore(e: Column, v: Column): Column =
    e("ss").cast(DoubleType) / (e("n") * e("n")).cast(DoubleType) -
      (lit(2.0) * Similarity.dotQ(v, e("s")).cast(DoubleType)) / e("n").cast(DoubleType)

  private def scored(cents: Column, v: Column): Column =
    transform(cents, e => struct(tScore(e, v).as("t"), e("c_label").as("c_label")))

  private def refArgmin(cents: Column, v: Column): Column =
    array_min(scored(cents, v))("c_label")

  private def refRanked(cents: Column, v: Column, nprobe: Int): Column =
    transform(slice(array_sort(scored(cents, v)), 1, nprobe), e => e("c_label"))

  private def subCells(cents: Column, lo: Column, hi: Column): Column =
    filter(cents, e => e("c_label") >= lo && e("c_label") < hi)

  private def refArgminIn(cents: Column, v: Column, lo: Column, hi: Column): Column =
    array_min(transform(subCells(cents, lo, hi), e =>
      struct(tScore(e, v).as("t"), e("c_label").as("c_label")))).getField("c_label")

  private def refTerms(cents: Column, v: Column, lo: Column, hi: Column,
                       codes: Int): Column =
    array_sort(transform(subCells(cents, lo, hi), e =>
      struct(pmod(e("c_label"), lit(codes.toLong)).as("code"),
        (Similarity.dotQ(v, e("s")).cast(DoubleType) /
          e("n").cast(DoubleType)).as("term"))))

  private def refScore(lut: Column, code: Column, m: Int,
                       bias: Option[Column]): Column =
    (bias.toSeq ++ (0 until m).map { s =>
      element_at(filter(element_at(lut, s + 1),
        t => t("code") === element_at(code, s + 1)), 1)("term")
    }).reduce(_ + _)

  // ---- comparison harness ----

  /** Doubles as their raw bits, recursively, so -0.0/0.0 and NaN
    * payloads count. */
  private def bits(x: Any): Any = x match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  /** The column's values over `in`, or the failure's presence. */
  private def outcome(in: DataFrame, c: Column): Either[String, Seq[Any]] =
    Try(in.select(c).collect().toSeq.map(r => bits(r.get(0)))).toEither
      .left.map(_ => "failed")

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    // a projection over a literal relation would otherwise be folded on
    // the driver before either mode is exercised; without AQE the
    // executed plan shows its codegen'd stages before it runs
    val all = confs + ("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") +
      ("spark.sql.adaptive.enabled" -> "false")
    val prev = all.keys.map(k => k -> spark.conf.getOption(k)).toMap
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Kernel and reference agree on `in`, in both modes, and in codegen
    * mode the kernel runs inside a whole-stage codegen'd stage. */
  private def assertSame(what: String, in: DataFrame, kernel: Column,
                         ref: Column): Unit =
    for ((mode, confs) <- modes) withConfs(confs) {
      val k = outcome(in, kernel)
      assert(k == outcome(in, ref), s"$what ($mode): kernel diverged")
      if (mode == "codegen" && k.isRight) {
        val plan = in.select(kernel).queryExecution.executedPlan
        assert(plan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.nonEmpty, s"$what: no codegen'd stage\n$plan")
      }
    }

  // ---- states ----

  private val stateSchema = StructType(Seq(
    StructField("c_label", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("ss", DecimalType(38, 0), nullable = false),
    StructField("s", ArrayType(LongType, containsNull = false), nullable = false)))

  /** A driver-held state of hand-picked cells (c_label, n, s); ss = Σ s². */
  private def state(cells: (Long, Long, Seq[Long])*): DataFrame =
    spark.createDataFrame(cells.map { case (c, n, s) =>
      Row(c, n, new java.math.BigDecimal(s.map(x => BigInt(x) * x).sum.bigInteger), s)
    }.asJava, stateSchema)

  private def quantized: DataFrame = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), Similarity.quantize(col("embedding")).as("v"))

  /** Hand-built cells: labels with gaps, two exact t ties (labels 3/7
    * and 11/12 are the same centroid), a short (1-dim) and a long (4-dim)
    * cell, and no cell in [13, 20). */
  private val adversarial = state(
    (3L, 2L, Seq(4L, -2L, 6L)), (7L, 2L, Seq(4L, -2L, 6L)),
    (8L, 1L, Seq(1L)), (10L, 3L, Seq(-3L, 3L, 0L, 9L)),
    (11L, 5L, Seq(0L, 0L, 0L)), (12L, 5L, Seq(0L, 0L, 0L)),
    (21L, 4L, Seq(8L, 8L, -8L)))

  /** Vectors covering every shape: regular, one that ties cells 3/7,
    * the zero vector (ties 11/12 against each other), empty, null,
    * shorter and longer than the cells, and with a null element. */
  private def adversarialVectors: DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("sub", IntegerType), StructField("v", ArrayType(LongType))))
    spark.createDataFrame(Seq[(Long, Integer, Seq[java.lang.Long])](
      (1L, 0, Seq(1L, 2L, 3L)), (2L, 1, Seq(2L, -1L, 3L)),
      (3L, 2, Seq(0L, 0L, 0L)), (4L, 0, Seq()), (5L, 1, null),
      (6L, 2, Seq(5L)), (7L, 0, Seq(1L, -1L, 1L, -1L, 7L)),
      (8L, 1, Seq(2L, null, -4L)), (9L, 3, Seq(1L, 1L, 1L)),
      (10L, null, Seq(1L, 1L, 1L)), (11L, 4, Seq(-9L, 0L, 9L))
    ).map { case (id, sub, v) => Row(id, sub, if (v == null) null else v) }.asJava,
      schema)
  }

  /** Each row's cell range: [sub·codes, (sub + 1)·codes), as the PQ
    * codebooks key their cells. */
  private def bounds(codes: Int): (Column, Column) =
    (col("sub").cast(LongType) * codes, (col("sub").cast(LongType) + 1) * codes)

  test("argmin and ranking equal array_min/array_sort over the cents literal (sf0.001 coarse quantizer)") {
    val q = ExtCaches.persistTracked(quantized)
    val stats = Similarity.trainedCellStats(q, 32, 2)
    val st = CellState.of(stats, "spec")
    val cents = CentsLiteral.of(stats)
    assertSame("argmin", q, CellKernels.argmin(col("v"), st),
      refArgmin(cents, col("v")))
    for (nprobe <- Seq(0, 1, 3, 40))
      assertSame(s"ranked top-$nprobe", q, CellKernels.ranked(col("v"), st, nprobe),
        refRanked(cents, col("v"), nprobe))
    ExtCaches.clearCaches()
  }

  test("PQ argmin, term tables and ADC scores equal their lambda spellings (sf0.001 codebooks)") {
    val q = ExtCaches.persistTracked(quantized)
    val (m, codes) = (8, 64)
    val sv = Similarity.pqSubvectors(q, m, 64)
    val stats = Similarity.pqCodebooks(sv, codes, 2)
    val st = CellState.of(stats, "spec")
    val cents = CentsLiteral.of(stats)
    val (lo, hi) = bounds(codes)
    assertSame("PQ argmin", sv, CellKernels.argminIn(col("sv"), lo, hi, st),
      refArgminIn(cents, col("sv"), lo, hi))
    assertSame("PQ terms", sv, CellKernels.terms(col("sv"), lo, hi, st, codes),
      refTerms(cents, col("sv"), lo, hi, codes))
    // ADC scores of every corpus row against every 50th row's tables
    val coded = sv.select(col("id"), col("sub"),
        pmod(CellKernels.argminIn(col("sv"), lo, hi, st), lit(codes.toLong)).as("code"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e("code")).as("code"))
    val luts = sv.filter(col("id") % 50 === 0)
      .select(col("id").as("q_id"), col("sub"),
        CellKernels.terms(col("sv"), lo, hi, st, codes).as("terms"))
      .groupBy(col("q_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("terms")))),
        e => e("terms")).as("lut"))
    val pairs = ExtCaches.persistTracked(coded.crossJoin(luts)
      .withColumn("bias", (col("id") * 1000003L).cast(DoubleType) / 7.0))
    assertSame("ADC score", pairs, CellKernels.adcScore(col("lut"), col("code"), m),
      refScore(col("lut"), col("code"), m, None))
    assertSame("ADC score + bias", pairs,
      CellKernels.adcScore(col("lut"), col("code"), m, Some(col("bias"))),
      refScore(col("lut"), col("code"), m, Some(col("bias"))))
    ExtCaches.clearCaches()
  }

  test("adversarial state: exact ties go to the smaller c_label; gaps, empty ranges, null and ragged v agree") {
    val in = adversarialVectors
    val st = CellState.of(adversarial, "spec")
    val cents = CentsLiteral.of(adversarial)
    // the tie cases are real: cells 3/7 score the same t for every v
    val tied = in.filter(col("id") === 1L)
      .select(scored(cents, col("v")).as("t")).head().getSeq[Row](0)
    assert(tied(0).getDouble(0) == tied(1).getDouble(0))
    assertSame("argmin", in, CellKernels.argmin(col("v"), st), refArgmin(cents, col("v")))
    for (nprobe <- Seq(0, 2, 5, 9))
      assertSame(s"ranked top-$nprobe", in, CellKernels.ranked(col("v"), st, nprobe),
        refRanked(cents, col("v"), nprobe))
    // width-5 ranges: sub 0 = [0,5) {3}, 1 = [5,10) {7,8}, 2 = [10,15)
    // {10,11,12}, 3 = [15,20) no cell, 4 = [20,25) {21}; null sub = none
    val (lo, hi) = bounds(5)
    assertSame("argmin in range", in, CellKernels.argminIn(col("v"), lo, hi, st),
      refArgminIn(cents, col("v"), lo, hi))
    assertSame("terms", in, CellKernels.terms(col("v"), lo, hi, st, 5),
      refTerms(cents, col("v"), lo, hi, 5))
    val rows = in.select(col("id"), CellKernels.argmin(col("v"), st).as("c"),
        CellKernels.argminIn(col("v"), lo, hi, st).as("ci"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    assert(rows(3L)._1 == 11L, "zero vector: 11 and 12 tie, the smaller wins")
    assert(rows(9L)._2 == null, "a subspace with no cells has no argmin")
    assert(rows(10L)._2 == null, "a null subspace has no argmin")
    assert(rows(5L)._1 == 3L, "a null v takes the smallest c_label")
  }

  test("adversarial ADC scores: null tables and terms stop the fold, a missing code fails as element_at does") {
    val lutType = ArrayType(CellKernels.TermsType)
    val schema = StructType(Seq(StructField("lut", lutType),
      StructField("code", ArrayType(LongType)), StructField("bias", DoubleType)))
    def e(code: Long, term: java.lang.Double) = Row(code, term)
    val t0 = Seq(e(0, 1.5), e(1, -0.25), e(3, 2.0))
    val t1 = Seq(e(0, 0.1), e(2, 0.7), e(5, -3.0))
    val nullTerms = Seq(e(0, null), e(1, null)) // a null v's table
    val dupCodes = Seq(e(1, 0.5), e(1, 0.25))
    def rel(rows: (Seq[Seq[Row]], Seq[java.lang.Long], java.lang.Double)*) =
      spark.createDataFrame(rows.map { case (l, c, b) => Row(l, c, b) }.asJava, schema)
    // every row scores: a value or null, never a failure
    val scoring = rel(
      (Seq(t0, t1), Seq(3L, 2L), 1.0), (Seq(t0, t1), Seq(0L, 0L), -0.5),
      (Seq(t1, t0), Seq(5L, 1L), 7.0), (null, Seq(3L, 2L), 1.0),
      (Seq(null, t1), Seq(3L, 2L), 1.0),
      // term 0 is null, so the missing code 9 of subspace 1 is never read
      (Seq(nullTerms, t1), Seq(1L, 9L), 1.0),
      (Seq(dupCodes, t1), Seq(1L, 5L), 1.0), (Seq(t0, t1), Seq(3L, 2L), null))
    // each fails, as element_at does under ANSI mode: code 2 missing
    // from table 0, a null code array, a short code array, a short lut,
    // an empty table
    val failing = Seq[(Seq[Seq[Row]], Seq[java.lang.Long], java.lang.Double)](
      (Seq(t0, t1), Seq[java.lang.Long](2L, 0L), 1.0),
      (Seq(t0, t1), null, 1.0), (Seq(t0, t1), Seq[java.lang.Long](3L), 1.0),
      (Seq(t0), Seq[java.lang.Long](3L, 2L), 1.0),
      (Seq(Seq[Row](), t1), Seq[java.lang.Long](3L, 2L), 1.0))
    for (bias <- Seq(None, Some(col("bias")))) {
      val kernel = CellKernels.adcScore(col("lut"), col("code"), 2, bias)
      val ref = refScore(col("lut"), col("code"), 2, bias)
      assertSame(s"scoring rows, bias ${bias.isDefined}", scoring, kernel, ref)
      for ((row, i) <- failing.zipWithIndex)
        assertSame(s"failing row $i, bias ${bias.isDefined}", rel(row), kernel, ref)
    }
    assert(failing.forall(row =>
      outcome(rel(row), CellKernels.adcScore(col("lut"), col("code"), 2)).isLeft))
  }

  test("a state past 10^5 values is refused naming the caller and its size") {
    val q = quantized.select(col("id"), col("v"))
    // 1,500 cells × (64 + 3) = 100,500 values
    val big = state((0 until 1500).map(c => (c.toLong, 1L, Seq.fill(64)(c.toLong))): _*)
    val e = intercept[IllegalArgumentException](Similarity.probesFromStats(q, big, 1))
    assert(e.getMessage.contains("probesFromStats") && e.getMessage.contains("100500"),
      e.getMessage)
    // exactly at the bound: 1,000 cells × (97 + 3)
    val edge = state((0 until 1000).map(c => (c.toLong, 1L, Seq.fill(97)(1L))): _*)
    assert(CellState.of(edge, "spec").values == CellState.MaxValues)
  }

  test("equal trained states are equal values, so plans over them are equal") {
    val a = CellState.of(adversarial, "spec")
    val b = CellState.of(state(
      (21L, 4L, Seq(8L, 8L, -8L)), (3L, 2L, Seq(4L, -2L, 6L)),
      (7L, 2L, Seq(4L, -2L, 6L)), (8L, 1L, Seq(1L)),
      (10L, 3L, Seq(-3L, 3L, 0L, 9L)), (11L, 5L, Seq(0L, 0L, 0L)),
      (12L, 5L, Seq(0L, 0L, 0L))), "spec")
    assert(a == b && a.hashCode == b.hashCode)
    assert(a != CellState.of(state((3L, 2L, Seq(4L, -2L, 6L))), "spec"))
    val v = adversarialVectors
    assert(v.select(CellKernels.argmin(col("v"), a)).queryExecution.analyzed
      .sameResult(v.select(CellKernels.argmin(col("v"), b)).queryExecution.analyzed))
  }
}
