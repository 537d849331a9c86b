package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{ExtCaches, Similarity}
import graft.queries.Extensions
import graft.tables.Tables

/** The shared IVF front ends (Similarity.IvfFront, built once per cache
  * epoch by Extensions.sharedIvfFront and, for the twin and planted
  * corpora, twinIvfFront and plantedIvfFront): their consumers build
  * their queries without a job, read the same rows a self-trained call
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

  /** Builds `op` (asserting no job starts) and collects it; returns the
    * caches the whole call filled. */
  private def warmFills(op: String): Long = {
    val fills0 = ExtCaches.fillCount
    var df: DataFrame = null
    assert(jobsOf { df = SparkEntry.queries(op)(spark, dir) } == 0,
      s"$op started a job while it was built")
    assert(df.collect().nonEmpty)
    ExtCaches.fillCount - fills0
  }

  test("after warmAnnShared, x76, x89 and x101 fill no cache and start no job while built") {
    try {
      Extensions.warmAnnShared(spark, dir)
      for (op <- Seq("x76_sim_topk_ivf_pq", "x89_knn_graph_ivf",
          "x101_knn_graph_residual"))
        assert(warmFills(op) == 0, s"$op filled a cache")
    } finally ExtCaches.clearCaches()
  }

  test("after warmGraphShared, x102 and x104 fill no cache, and x97, x103 and x106 start no job while built") {
    try {
      Extensions.warmGraphShared(spark, dir)
      for (op <- Seq("x102_graph_relevance_ivf",
          "x104_graph_relevance_residual"))
        assert(warmFills(op) == 0, s"$op filled a cache")
      // What each still persists per call: x97 its exact top-k audit
      // (the normed corpus and query sides and the top-k set), x103 its
      // SQ8 codes, x106 the oversized members' residuals and their member
      // and prober sub-cell assignments.
      for ((op, fills) <- Seq("x97_planted_ivf_recall" -> 3,
          "x103_graph_relevance_sq8" -> 1, "x106_planted_fence_residual" -> 3))
        assert(warmFills(op) == fills, s"$op per-call fills")
    } finally ExtCaches.clearCaches()
  }

  test("front-fed output equals self-trained output row for row (IVF graph, residual graph, IVF×PQ)") {
    import Extensions.{KnnCellCap, KnnGraphK, ResidualSubCells,
      ResidualSubNprobe, ScaledCells, ScaledLloydRounds, ScaledNprobe}
    try {
      val e = Tables.embeddings(spark, dir)
      val front = Extensions.sharedIvfFront(spark, dir)
      val own = Similarity.trainedIvfFront(e, "vec_id", "embedding",
        ScaledCells, ScaledLloydRounds, ScaledNprobe)
      val graph = Seq("src_id", "rnk")
      assert(rows(Similarity.knnGraphIvf(front, KnnGraphK, Some(KnnCellCap),
          assertUnderCap = true), graph: _*) ==
        rows(Similarity.knnGraphIvf(own, KnnGraphK, Some(KnnCellCap),
          assertUnderCap = false), graph: _*),
        "knnGraphIvf")
      def residual(f: Similarity.IvfFront) = rows(
        Similarity.knnGraphIvfResidual(f, KnnGraphK, KnnCellCap,
          ResidualSubNprobe, assertUnderCap = false,
          subStats = Similarity.residualSubStats(f, ScaledLloydRounds,
            KnnCellCap, ResidualSubCells)), graph: _*)
      assert(residual(front) == residual(own), "knnGraphIvfResidual")
      val queries = e.filter(col("vec_id") < 10)
      def pq(f: Similarity.IvfFront) = rows(Similarity.ivfPqTopK(f, queries,
        "vec_id", k = 3, m = 8, codes = 16,
        pqState = Similarity.pqTrainEncode(f.q, 8, 16, 2, 64)), "q_id", "rnk")
      assert(pq(front) == pq(own), "ivfPqTopK")
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
            Similarity.knnGraphIvfResidual(front, 3, cap, 2,
              assertUnderCap = true, subStats = None)),
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
