package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{ExtCaches, Similarity}
import graft.queries.Extensions
import graft.tables.Tables

/** The shared IVF front end (Similarity.IvfFront, built once per cache
  * epoch by Extensions.sharedIvfFront): its consumers build their queries
  * without a job or a cache fill, read the same rows a self-trained call
  * computes, and the cell-cap guard is decided on the driver. */
class IvfFrontSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

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

  private def rows(df: DataFrame, keys: String*) =
    df.orderBy(keys.map(col): _*).collect().toSeq

  test("after warmAnnShared, x76, x89 and x101 fill no cache and start no job while built") {
    try {
      Extensions.warmAnnShared(spark, dir)
      for (op <- Seq("x76_sim_topk_ivf_pq", "x89_knn_graph_ivf",
          "x101_knn_graph_residual")) {
        val fills0 = ExtCaches.fillCount
        var df: DataFrame = null
        assert(jobsOf { df = SparkEntry.queries(op)(spark, dir) } == 0,
          s"$op started a job while it was built")
        assert(df.collect().nonEmpty)
        assert(ExtCaches.fillCount == fills0, s"$op filled a cache")
      }
    } finally ExtCaches.clearCaches()
  }

  test("front-fed output equals self-trained output row for row (IVF graph, residual graph, IVF×PQ)") {
    import Extensions.{KnnCellCap, KnnGraphK, ResidualSubCells,
      ResidualSubNprobe, ScaledCells, ScaledLloydRounds, ScaledNprobe}
    try {
      val e = Tables.embeddings(spark, dir)
      val front = Extensions.sharedIvfFront(spark, dir)
      val graph = Seq("src_id", "rnk")
      assert(rows(Similarity.knnGraphIvf(front, KnnGraphK, Some(KnnCellCap),
          assertUnderCap = true), graph: _*) ==
        rows(Similarity.knnGraphIvf(e, "vec_id", "embedding", k = KnnGraphK,
          cells = ScaledCells, lloydRounds = ScaledLloydRounds,
          nprobe = ScaledNprobe, maxCellSize = Some(KnnCellCap)), graph: _*),
        "knnGraphIvf")
      assert(rows(Similarity.knnGraphIvfResidual(front, KnnGraphK,
          ScaledLloydRounds, KnnCellCap, ResidualSubCells, ResidualSubNprobe,
          assertUnderCap = true, depth = 1, subStats = None), graph: _*) ==
        rows(Similarity.knnGraphIvfResidual(e, "vec_id", "embedding",
          k = KnnGraphK, cells = ScaledCells, lloydRounds = ScaledLloydRounds,
          nprobe = ScaledNprobe, maxCellSize = KnnCellCap,
          subCells = ResidualSubCells, subNprobe = ResidualSubNprobe),
          graph: _*),
        "knnGraphIvfResidual")
      val queries = e.filter(col("vec_id") < 10)
      val pq = Seq("q_id", "rnk")
      assert(rows(Similarity.ivfPqTopK(front, queries, "vec_id", k = 3, m = 8,
          codes = 16, pqLloydRounds = 2, dims = 64, pqState = None), pq: _*) ==
        rows(Similarity.ivfPqTopK(e, queries, "vec_id", "embedding", k = 3,
          cells = ScaledCells, cellLloydRounds = ScaledLloydRounds,
          nprobe = ScaledNprobe), pq: _*),
        "ivfPqTopK")
    } finally ExtCaches.clearCaches()
  }

  test("an over-cap front throws the guard message naming the op before any job runs") {
    try {
      val front = Extensions.sharedIvfFront(spark, dir)
      // every sf0.001 cell holds more than one member
      val cap = 1
      for ((op, build) <- Seq[(String, () => DataFrame)](
          "knnGraphIvf" -> (() =>
            Similarity.knnGraphIvf(front, 3, Some(cap), assertUnderCap = true)),
          "knnGraphIvfResidual" -> (() =>
            Similarity.knnGraphIvfResidual(front, 3, 2, cap, 4, 2,
              assertUnderCap = true, depth = 1, subStats = None)),
          "knnGraphIvfSq8" -> (() =>
            Similarity.knnGraphIvfSq8(front, Tables.embeddings(spark, dir),
              "vec_id", "embedding", 3, 10, Some(cap), assertUnderCap = true)))) {
        val fills0 = ExtCaches.fillCount
        var e: IllegalStateException = null
        assert(jobsOf { e = intercept[IllegalStateException](build()) } == 0,
          s"$op ran a job before its guard threw")
        assert(e.getMessage.startsWith(s"$op oracle precondition violated: " +
          "largest Lloyd cell has "), e.getMessage)
        assert(ExtCaches.fillCount == fills0, s"$op filled a cache before its guard threw")
      }
      // without the guard the same geometry builds the fenced graph
      assert(Similarity.knnGraphIvf(front, 3, Some(cap), assertUnderCap = false)
        .count() > 0)
    } finally ExtCaches.clearCaches()
  }
}
