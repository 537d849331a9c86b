package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.ext.ExtCaches

/** Round-16 optimization inner loop: time individual registry queries
  * without paying the full bench sweep. Same methodology as Bench
  * family 3 (cold ExtCaches before rep 1, `count()` as the timed
  * action, median of reps) so numbers are comparable to the official
  * record; `SPARK_GRAFT_NOOP=1` switches the timed action to the noop
  * sink (guide §1.4) for every-column timing when a count-pruned plan
  * would mislead.
  *
  * Usage: sbt "runMain graft.tools.R16Time x62_editdist_pairs x98_retrieval_relevance"
  */
object R16Time {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // JVM/codegen warm-up against the tiny dir, exactly like Bench.
    val tiny = "/root/testdata/sf0.001"
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    args.foreach { name =>
      try SparkEntry.queries(name)(spark, tiny).count()
      catch { case e: Throwable =>
        System.err.println(s"[r16] warm $name failed: ${e.getMessage}") }
    }
    ExtCaches.clearCaches()
    val headline = graft.Bench.Headline
    if (args.exists(headline)) {
      val t = time(graft.queries.Chinook.warmCaches(spark, dir))
      println(f"[r16] shared_cache_build $t%7.2f")
    }
    args.foreach { name =>
      spark.sparkContext.setJobDescription(s"r16:$name")
      val ts = (1 to reps).flatMap { rep =>
        if (!headline(name) && rep == 1) ExtCaches.clearCaches()
        try Some(time {
          val df = SparkEntry.queries(name)(spark, dir)
          if (noop) df.write.format("noop").mode("overwrite").save()
          else df.count()
        }) catch { case e: Throwable =>
          System.err.println(s"[r16] $name failed: ${e.getMessage}")
          None
        }
      }
      val med = if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)
      println(f"[r16] $name%-34s med=$med%7.2f  r=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
