package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork := true).
  * Small parallelism + tiny shuffle partition count keeps literal-DataFrame
  * tests fast; UTC pinned to match the engine's oracle conventions. It is
  * the JVM's first session, so it carries GraftSession's codegen settings:
  * the generated-class cache size is static and fixed by the first
  * session (see GraftSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.requireCodegenCache(
    SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.CodegenConfs.toMap)
      .getOrCreate())
}
