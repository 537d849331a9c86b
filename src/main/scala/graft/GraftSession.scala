package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftfn.GraftFunctions

/** One-stop session factory with the engine's recommended configuration —
  * what a deployment would put in spark-defaults.conf, collected so every
  * entry point (Verify, Bench, tests, user code) agrees:
  *
  *  - shuffle partitions sized to the executor parallelism (not the 200
  *    default, which at local scale means 200 tiny tasks per exchange and
  *    at cluster scale is a separate tuning knob);
  *  - UTC session timezone (oracle parity and sanity);
  *  - nanosecond-parquet timestamps surfaced as longs (events.ts —
  *    Spark's reader rejects TIMESTAMP(NANOS) natively; Tables.events
  *    converts to microseconds);
  *  - AQE on (default in Spark 4) — runtime coalescing + skew-join
  *    splitting;
  *  - a generated-class cache large enough that a warm rep reuses every
  *    class it compiled before ([[CodegenConfs]]). The cache size is a
  *    STATIC conf, and the cache is sized once per JVM by whichever
  *    session's conf is current when `CodeGenerator` first loads: the
  *    first session wins, and a session created without the setting
  *    fixes the JVM at Spark's default of 100. `build` therefore fails,
  *    naming the conf, when `getOrCreate` hands back a session whose
  *    value differs ([[requireCodegenCache]]);
  *  - the engine's SQL functions registered.
  */
object GraftSession {
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** Entries in Spark's generated-class cache (Spark's default: 100). One
    * graft.Bench run at sf0.1 — the whole registry on the sf0.001 dir,
    * then every timed family — compiles 2,227 classes with the cache
    * effectively unbounded; a cache entry is one compile, as the same
    * source compiled under the planner's and a task's class loader is two
    * entries. The cache splits this bound evenly over 4 segments and
    * evicts per segment, hence the headroom. At 100 entries every warm
    * `report` rep recompiled its ~205 classes, and its tasks queued on
    * the compile lock (`KeyLock`) behind the one compiling. */
  val CodegenCacheEntries: Int = 4096

  /** The codegen settings every session in one JVM must share — the test
    * session applies the same pairs. Stage ids are left out of the
    * generated class names because AQE numbers whole-stage-codegen
    * stages in the order its query stages materialize, which varies from
    * rep to rep: the same pipeline then compiled once per numbering
    * (s07_clv: 2–10 compiles on warm reps). Artifact isolation is off
    * because the task class loader is part of the cache key too: a
    * `persist()` plans its relation in a clone of the session, and with
    * isolation on each clone's stages ran in a new task class loader, so
    * a cached relation whose plan broadcasts compiled its task classes
    * again in every cache epoch (3 per `warmAnnShared`). The engine adds
    * no per-session artifacts. */
  val CodegenConfs: Seq[(String, String)] = Seq(
    CodegenCacheConf -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Fails, naming the conf, unless `spark` carries [[CodegenCacheEntries]]
    * (see the class doc for why a session can come back without it). */
  def requireCodegenCache(spark: SparkSession): SparkSession = {
    val effective = spark.conf.get(CodegenCacheConf)
    if (effective != CodegenCacheEntries.toString)
      throw new IllegalStateException(
        s"$CodegenCacheConf is $effective in this session, not " +
          s"$CodegenCacheEntries: a session built without it came first, " +
          "and this static conf is fixed for the JVM by the first session. " +
          s"Build every session with GraftSession.CodegenConfs.")
    spark
  }

  def build(master: String, parallelism: Int,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(CodegenConfs.toMap)
      .getOrCreate()
    requireCodegenCache(spark)
    GraftFunctions.register(spark)
    // Live-session analog of GraftExtensions.injectOptimizerRule
    // (idempotent — build() may be called repeatedly on the same JVM).
    val rule = org.apache.spark.sql.graftfn.CountMatchesRule
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    spark
  }

  /** Local session sized from an env-provided CPU count (driver contract). */
  def local(cpus: String): SparkSession =
    build(s"local[$cpus]", cpus.toInt)
}
