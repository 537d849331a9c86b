package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{ExtCaches, Similarity}
import graft.tables.Tables

/** The Lloyd/PQ trainers' centroid statistics are folded on the driver
  * (Similarity.centroidFold): the state equals the SQL reduce it replaced
  * bit for bit, each round is one Spark job, and the trained state is a
  * driver value that outlives a cache epoch. */
class CentroidFoldSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** The SQL spelling of the centroid statistics the fold replaced —
    * the reference the fold must equal. */
  private def sqlStats(rel: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    rel.select(col("c_label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("c_label"), col("dim"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("c_label"))
      .agg(max(col("n")).as("n"),
        sum(col("s").cast(dec) * col("s").cast(dec)).as("ss"),
        transform(array_sort(collect_list(struct(col("dim"), col("s")))),
          e => e("s")).as("s"))
  }

  private def cells(df: DataFrame) =
    df.select(col("c_label"), col("n"), col("ss"), col("s")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getSeq[Long](3)))
      .sortBy(_._1)

  private def assertFoldMatches(rel: DataFrame, what: String): Unit =
    for (parts <- Seq(1, 7)) {
      val split = rel.repartition(parts)
      val folded = Similarity.centroidFold(split)
      assert(cells(folded) == cells(sqlStats(split)),
        s"$what, $parts partitions: fold diverged from the SQL reduce")
    }

  /** Spark jobs `body` starts, counted once the listener bus has drained. */
  private def jobsOf(body: => Any): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; TestListenerBus.waitUntilEmpty(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def quantized = Tables.embeddings(spark, dir)
    .select(col("vec_id").as("id"), col("label"),
      Similarity.quantize(col("embedding")).as("v"))

  test("centroidFold equals the SQL reduce in 1 and 7 partitions, incl. empty, empty-v and ragged input") {
    val q = quantized
    assertFoldMatches(q.select(pmod(col("id"), lit(32L)).as("c_label"),
      col("v")), "32 hash cells")
    assertFoldMatches(q.select(col("label").cast(LongType).as("c_label"),
      col("v")), "label cells")
    val schema = StructType(Seq(StructField("c_label", LongType),
      StructField("v", ArrayType(LongType))))
    def rel(rows: (Long, Seq[Long])*): DataFrame = spark.createDataFrame(
      rows.map { case (c, v) => Row(c, v) }.asJava, schema)
    assertFoldMatches(rel(), "empty input")
    assert(Similarity.centroidFold(rel()).count() == 0)
    // cell 2's rows have no coordinates: it has no row, as in SQL
    assertFoldMatches(rel((1L, Seq(1L, 2L)), (1L, Seq(3L, 4L)), (2L, Seq()),
      (2L, Seq())), "a cell whose rows have empty v")
    // n is the largest per-dim count, not the row count (cell 1 has 5
    // rows, 4 with coordinates), and s is as long as the longest vector
    val ragged = rel((1L, Seq(5L, -6L, 7L)), (1L, Seq(1L)), (1L, Seq()),
      (1L, Seq(2L, 3L)), (1L, Seq(-4L)), (4L, Seq(-1L)),
      (4L, Seq(9L, 9L, 9L, 9L)))
    assertFoldMatches(ragged, "ragged vectors")
    assert(cells(Similarity.centroidFold(ragged)).head ==
      ((1L, 4L, new java.math.BigDecimal(4 * 4 + 3 * 3 + 7 * 7), Seq(4L, -3L, 7L))))
  }

  test("one Spark job per Lloyd round, and training fills no cache") {
    val q = ExtCaches.persistTracked(quantized.select(col("id"), col("v")))
    q.count()
    val fills0 = ExtCaches.fillCount
    assert(jobsOf(Similarity.trainedCellStats(q, 32, 2)) == 3,
      "coarse quantizer: seed + 2 Lloyd rounds")
    assert(ExtCaches.fillCount == fills0, "trainedCellStats filled a cache")
    val sv = Similarity.pqSubvectors(q, 8, 64)
    sv.count()
    val fills1 = ExtCaches.fillCount
    assert(jobsOf(Similarity.pqCodebooks(sv, 64, 2)) == 3,
      "PQ codebooks: seed + 2 Lloyd rounds")
    assert(ExtCaches.fillCount == fills1, "pqCodebooks filled a cache")
    // the whole train + encode call: the encode pass is lazy
    assert(jobsOf(Similarity.pqTrainEncode(q, 8, 64, 2, 64)) == 3)
    ExtCaches.clearCaches()
  }

  test("shared cell stats held across clearCaches still collect the same rows") {
    val held = graft.queries.Extensions.sharedCellStats(spark, dir)
    val before = held.collect().toSeq
    assert(before.nonEmpty)
    ExtCaches.clearCaches()
    assert(held.collect().toSeq == before)
    // and a consumer built from the held value in the new epoch runs
    val probes = Similarity.probesFromStats(quantized, held, 2)
    assert(probes.count() == 2 * quantized.count())
    ExtCaches.clearCaches()
  }

  test("a trained-state consumer given a relation that is not driver-held fails naming itself") {
    val q = quantized.select(col("id"), col("v"))
    val derived = Similarity.trainedCellStats(q, 4, 1).filter(col("n") > 0)
    val e = intercept[IllegalArgumentException](
      Similarity.probesFromStats(q, derived, 1))
    assert(e.getMessage.contains("probesFromStats"), e.getMessage)
  }
}
