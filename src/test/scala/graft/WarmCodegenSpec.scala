package graft

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.ext.{ExtCaches, Similarity}
import graft.queries.{Chinook, Extensions}
import graft.tables.Tables

/** A warm rep reuses the generated classes of the rep before it: the
  * session's generated-class cache holds them (GraftSession.CodegenConfs),
  * and two reps of one query generate the same source. A session that
  * comes up without the cache setting is refused by name. */
class WarmCodegenSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** The nine reference-report ops of the benchmark's `report` workload. */
  private val reportOps = Seq("q01_null", "q05_top_cust_per_country",
    "q06_top_part_per_cust", "q07_purchase_trends", "q09_top_brands",
    "q11_genre_rank", "s04_affinity_brand", "s05_regional_churn", "s07_clv")

  /** Classes each op compiles while it is built, planned and collected. */
  private def compilesPerOp(ops: Seq[String]): Seq[(String, Long)] =
    ops.map { op =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(op)(spark, dir).collect()
      op -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }

  test("a second run of the report ops and an ANN consumer compiles no class") {
    try {
      Chinook.warmCaches(spark, dir)
      Extensions.warmAnnShared(spark, dir)
      // x74 reads the shared PQ anchor; x76, x89 and x101 the shared IVF
      // front, whose relations the warm build already filled.
      val ops = reportOps ++ Seq("x74_sim_topk_pq", "x76_sim_topk_ivf_pq",
        "x89_knn_graph_ivf", "x101_knn_graph_residual")
      compilesPerOp(ops)
      val warm = compilesPerOp(ops).filter(_._2 > 0)
      assert(warm.isEmpty, s"warm rep compiled: ${warm.mkString(", ")}")
      // The count is live: a literal no earlier plan held is new source.
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      spark.range(1).select(col("id") + lit(System.nanoTime())).collect()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > c0)
    } finally ExtCaches.clearCaches()
  }

  test("a shared-state build after clearCaches compiles no class") {
    // Each build persists relations whose plans broadcast; their task
    // classes are reused only if the tasks keep one class loader.
    try {
      Extensions.warmAnnShared(spark, dir)
      ExtCaches.clearCaches()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Extensions.warmAnnShared(spark, dir)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == c0,
        "the second warmAnnShared compiled classes")
    } finally ExtCaches.clearCaches()
  }

  test("the quantizer kernels over another trained state compile no class") {
    // The trained state reaches the generated code as a reference object,
    // so the source, and the compiled class, do not depend on it.
    try {
      val q = ExtCaches.persistTracked(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"),
          Similarity.quantize(col("embedding")).as("v")))
      val queries = q.filter(col("id") % 50 === 0).select(col("id"))
      def kernels(rounds: Int): Unit = {
        val stats = Similarity.trainedCellStats(q, 16, rounds)
        Similarity.probesFromStats(q, stats, 2).collect()
        val pq = Similarity.pqTrainEncode(q, 8, 16, rounds, 64)
        Similarity.pqTopK(pq, queries, "id", 3, 8, 16).collect()
      }
      kernels(1)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      kernels(2)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == c0,
        "a second trained state compiled classes")
    } finally ExtCaches.clearCaches()
  }

  test("GraftSession.build refuses a session whose codegen cache was sized by another") {
    // The cache size is fixed once per JVM, so the misconfigured session
    // runs in a child JVM: a plain session first, then GraftSession.
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g",
      "-cp", sys.props("java.class.path")) ++ args :+
      PlainSessionFirst.getClass.getName.stripSuffix("$")
    val out = new StringBuilder
    val exit = cmd.!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(exit == 0, s"child JVM failed:\n$out")
    assert(out.toString.contains(
      "refused: spark.sql.codegen.cache.maxEntries is 100 in this session, not " +
        GraftSession.CodegenCacheEntries), out.toString)
  }
}

/** Child-JVM body of the spec above: a session built without
  * GraftSession's settings, then `GraftSession.local` over it. */
object PlainSessionFirst {
  def main(args: Array[String]): Unit = {
    val plain = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    plain.sparkContext.setLogLevel("ERROR")
    try {
      GraftSession.local("1")
      println("built")
    } catch { case e: IllegalStateException => println(s"refused: ${e.getMessage}") }
    finally plain.stop()
  }
}
