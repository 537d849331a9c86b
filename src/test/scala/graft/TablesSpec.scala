package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** The table loaders read each layout's footer schema once: a repeated
  * load starts no Spark job, yet a rewritten table or a changed read
  * setting is seen, and every load is still a fresh relation. */
class TablesSpec extends SparkSpec {
  /** Spark jobs `body` starts, counted once the listener bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; TestListenerBus.waitUntilEmpty(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_tables_$tag").toString

  test("a repeated load starts no Spark job and keeps the footer schema") {
    val tmp = tmpDir("jobs")
    spark.range(20).select(col("id"), (col("id") * 2).as("twice"))
      .write.parquet(s"$tmp/t.parquet")
    assert(jobsOf(Tables.load(spark, tmp, "t")) > 0, "first load reads the footer")
    assert(jobsOf(Tables.load(spark, tmp, "t")) == 0)
    assert(Tables.load(spark, tmp, "t").schema ==
      spark.read.parquet(s"$tmp/t.parquet").schema)
  }

  test("a table rewritten in place, or a changed read setting, is read anew") {
    val tmp = tmpDir("rewrite")
    val path = s"$tmp/t.parquet"
    spark.range(5).select(col("id").as("a")).write.parquet(path)
    assert(Tables.load(spark, tmp, "t").columns.toSeq == Seq("a"))
    spark.range(5).select(col("id").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, tmp, "t").columns.toSeq == Seq("b", "c"))
    // Two files, part-0 with column a and part-1 with a and b: without
    // mergeSchema the footer of the first file alone gives the schema
    val m = s"$tmp/m.parquet"
    for ((cols, i) <- Seq(Seq("a"), Seq("a", "b")).zipWithIndex) {
      val out = s"$tmp/m$i"
      spark.range(3).select(cols.map(col("id").as(_)): _*).coalesce(1)
        .write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      Files.createDirectories(java.nio.file.Paths.get(m))
      Files.move(part.toPath, java.nio.file.Paths.get(s"$m/part-$i.parquet"))
    }
    def cols = Tables.schema(spark, tmp, "m").fieldNames.toSeq
    assert(cols == Seq("a"))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assert(cols == Seq("a", "b"))
      assert(Tables.load(spark, tmp, "m").schema == spark.read.parquet(m).schema)
    } finally spark.conf.unset(key)
    assert(cols == Seq("a"))
  }

  test("orders loaded twice self-joins as two independent relations") {
    def selfJoin(a: DataFrame, b: DataFrame): Long =
      a.join(b, a("o_custkey") === b("o_custkey")).count()
    val tmp = tmpDir("orders")
    spark.range(30).select(col("id").as("o_orderkey"),
      (col("id") % 7).as("o_custkey")).write.parquet(s"$tmp/orders.parquet")
    val memo = selfJoin(Tables.orders(spark, tmp), Tables.orders(spark, tmp))
    val plain = selfJoin(spark.read.parquet(s"$tmp/orders.parquet"),
      spark.read.parquet(s"$tmp/orders.parquet"))
    assert(memo == plain)
    assert(memo > 30)
  }

  test("fan-outs take the split count of the current layout") {
    def fanned(df: DataFrame): Boolean =
      df.queryExecution.logical.exists(_.isInstanceOf[Repartition])
    val cores = spark.sparkContext.defaultParallelism
    val tmp = tmpDir("splits")
    def write(files: Int): Unit = {
      val t = spark.range(40).select(col("id").as("user_id"),
        timestamp_seconds(col("id")).as("ts")).repartition(files)
      t.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      t.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    }
    write(1)
    // one split: below the core count, so events fan out; documents fan
    // out only below a quarter of it
    assert(fanned(Tables.eventsFanned(spark, tmp)))
    assert(fanned(Tables.documents(spark, tmp)) == (4 < cores))
    assert(jobsOf(Tables.eventsFanned(spark, tmp)) == 0)
    write(cores)
    assert(!fanned(Tables.eventsFanned(spark, tmp)))
    assert(!fanned(Tables.documents(spark, tmp)))
  }
}
