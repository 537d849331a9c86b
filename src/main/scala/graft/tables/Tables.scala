package graft.tables

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * The reference workload runs against a pre-loaded MySQL catalog
  * (`use chinook`, reference SQL_file.sql:1); our analog is a loader that
  * resolves each table of the star schema from a scale-factor directory.
  * Schemas are fixed by the parquet footers (FIXTURES.md §2), which both
  * Spark and the DuckDB oracle see identically. A plain
  * `spark.read.parquet` reads that footer schema with a one-task Spark job
  * on every call — a fixed cost paid each time a query is built. So the
  * schema is read once per table layout, held in [[footers]], and every
  * [[load]] passes it to `spark.read.schema(...)`, which starts no job.
  * Only the schema is memoized: each load still builds a fresh relation
  * with fresh attribute ids, so self-joins analyze as before.
  *
  * Scale note: each table is a plain parquet path; at cluster scale these
  * would be directories of many files (or partitioned layouts) and the same
  * code holds — `FileSourceScanExec` parallelizes over row groups and gets
  * predicate pushdown + column pruning from Catalyst for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings that change the schema Spark reads from a footer
    * (string/int96/NTZ/nanos surfacing; mergeSchema picks which footers). */
  private val schemaConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  /** A table layout: its path, every file under it as (name, length,
    * modification time) from one driver-side listing, and the session's
    * [[schemaConfs]] values. A table rewritten in place gets a new key.
    * No session in the key, so entries never pin stopped sessions. */
  private final case class FooterKey(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[String])

  /** What one layout's footers determine: the schema, and the planned
    * scan split count once a fan-out has asked for it. */
  private final case class Footer(schema: StructType, splits: Option[Int])

  /** Two threads missing the same key at once (warmCaches' Futures) may
    * both read the footer; the value is deterministic, so either insert
    * is correct and a plain TrieMap suffices. */
  private val footers = TrieMap.empty[FooterKey, Footer]

  private def footer(spark: SparkSession, path: String): (FooterKey, Footer) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def files(p: Path): Seq[(String, Long, Long)] = fs.listStatus(p).toSeq
      .flatMap(f => if (f.isDirectory) files(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime)))
    // A missing path keys as empty, so the miss below raises Spark's own
    // path-not-found error, as a plain read would.
    val key = FooterKey(path, if (fs.exists(p)) files(p).sorted else Nil,
      schemaConfs.map(spark.conf.get))
    key -> footers.getOrElseUpdate(key,
      Footer(spark.read.parquet(path).schema, None))
  }

  private def pathOf(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The footer schema of table `name`, exactly as `spark.read.parquet`
    * surfaces it (before any of [[events]]' ts normalization). */
  def schema(spark: SparkSession, dir: String, name: String): StructType =
    footer(spark, pathOf(dir, name))._2.schema

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(pathOf(sfDir, name))

  /** [[load]] and the table's planned scan split count, found by one
    * physical-planning pass (no job) the first time per layout. */
  private def loadCounted(spark: SparkSession, dir: String,
                          name: String): (DataFrame, Int) = {
    val p = pathOf(dir, name)
    val (key, f) = footer(spark, p)
    val df = spark.read.schema(f.schema).parquet(p)
    df -> f.splits.getOrElse {
      val n = df.rdd.getNumPartitions
      footers.put(key, f.copy(splits = Some(n)))
      n
    }
  }

  /** Starved-scan fan-out for the CPU-heavy per-row corpora (documents,
    * embeddings): a pathologically-compacted input (one parquet row group
    * serving many cores — Spark cannot parallelize inside a row group)
    * leaves the whole scan pipeline nearly serial, and for these tables
    * that pipeline is regex tokenization / shingling / fixed-point vector
    * math — pure CPU that wants every core. When the planned split count
    * is far below the core count, pay one round-robin shuffle of the (by
    * construction small — few row groups) input to restore parallelism;
    * measured at sf0.1/local[32] this more than halves every text
    * operator (x02 2.4 s → 0.8 s). At cluster scale a corpus is thousands
    * of files/row groups, the split count meets the core count, and this
    * is an exact no-op — the rule can only ever fire on layouts whose
    * serial scan is the bottleneck anyway.
    *
    * Deliberately NOT applied to the relational tables: dimensions
    * broadcast (a shuffle in front of a BroadcastExchange is pure waste),
    * and the lineitem/orders star pipelines are scan→broadcast-probe→
    * map-side-combine chains whose partial aggregates reduce hundreds of
    * thousands of rows to handfuls — benchmarked fleet-wide, fanning
    * those out cost more in added exchanges than the parallelism
    * returned (headline 20 s → 26 s). Queries with provably non-reducing
    * aggregates opt into their own key-aligned repartition instead
    * (q06). */
  private def fanOut(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (df, parts) = loadCounted(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    if (parts * 4 < cores) df.repartition(cores) else df
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's reader rejects, so
    * sessions set spark.sql.legacy.parquet.nanosAsLong and it surfaces as
    * nanosecond longs, converted here to microsecond timestamps with
    * integral division (`div` — a double division would lose precision:
    * nanos since 1970 exceed 2^53; floor-division matches DuckDB's
    * CAST(ns AS TIMESTAMP) truncation) — and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ.
    * Both normalize to session-TZ TimestampType here; sessions pin
    * spark.sql.session.timeZone=UTC, so the NTZ→TIMESTAMP cast is
    * value-preserving and agrees with DuckDB's naive timestamps. */
  def events(spark: SparkSession, dir: String): DataFrame =
    surfaceEventTs(load(spark, dir, "events"))

  /** The ts-surfacing rule alone, for consumers that read the
    * events file through another source (the streaming twins' file
    * readStream) — ONE definition, so batch and stream cannot drift. */
  def surfaceEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  /** [[events]] with a starved-scan fan-out like the corpora get — but for
    * consumers whose SHUFFLE granularity is bounded by the scan's mapper
    * count, not just its CPU. AQE's skew-join splitting (x29) partitions a
    * hot reduce bucket at map-output granularity: a one-row-group layout
    * yields one mapper and an unsplittable bucket, so the fan-out is what
    * makes the skew remedy possible at all on compacted inputs. The guard
    * is accordingly `parts < cores` (any mapper deficit caps split
    * granularity) rather than the corpora's `parts*4 < cores` CPU-starvation
    * bar; on a real multi-file events feed mappers ≫ cores and this is the
    * same exact no-op. */
  def eventsFanned(spark: SparkSession, dir: String): DataFrame = {
    val (raw, parts) = loadCounted(spark, dir, "events")
    val df = surfaceEventTs(raw)
    val cores = spark.sparkContext.defaultParallelism
    if (parts < cores) df.repartition(cores) else df
  }

  def documents(spark: SparkSession, dir: String): DataFrame = fanOut(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = fanOut(spark, dir, "embeddings")

  /** Register every table as a temp view (the `use chinook` analog) so
    * `spark.sql` text queries resolve the same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
