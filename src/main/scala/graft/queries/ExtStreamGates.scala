package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ext.{Dedup, ExtCaches, Multimodal, Packing, Sampling, Similarity, TextOps}
import graft.ops.Cdc
import graft.streaming.EventStreams
import graft.tables.Tables

/** event analytics, CDC/SCD2 history, and the true-streaming twins — split from the former monolithic Extensions.scala
  * (round 14, pure mechanical move; one object still unions every
  * family — see [[Extensions]]). Registry slices are DEFS, not vals:
  * they are evaluated once at union time in Extensions' constructor,
  * AFTER every mixed-in trait's constants are initialized, so the
  * oracle strings may interpolate any family's constants safely. */
private[queries] trait ExtStreamGates { this: ExtCore =>


  // ---- x37: snapshot CDC — the MERGE-feed diff ----------------------------

  /** Membership draw for each snapshot (~87.5 % of keys each, ~76 %
    * overlap) and the touched-row draw within the overlap — all three
    * independent salted hashes of the order key, so every change class
    * (insert / delete / update) fires at every tested scale. */
  val CdcSnapFrac = 0.875

  val CdcTouchFrac = 0.25


  /** Price perturbation for touched rows: an exact-in-binary additive
    * delta — one IEEE add both engines compute bit-identically (no
    * rounding-mode trap, unlike a `* 1.1` + ROUND). */
  val CdcPriceDelta = 16.0


  /** Changed-data capture between two snapshots of `orders` — the diff a
    * MERGE INTO / SCD pipeline consumes: full-outer join the snapshots on
    * the key, classify each key as insert (new only), delete (old only),
    * update (both, value changed), and emit ONLY the changed rows. The
    * two snapshots are deterministic salted-hash slices of the base table
    * (Sampling.saltedHashPredicate — the x28 split machinery with
    * independent draws), with touched overlap rows shifted by
    * [[CdcPriceDelta]]; presence is decided by explicit marker columns,
    * not value nullability, so the classifier is schema-agnostic.
    *
    * Scale shape: both sides partition on the join key — ONE
    * co-partitioned sort-merge full-outer join, no broadcast needed and
    * none possible (both sides are table-sized); with key-bucketed
    * snapshot layouts (Sources.writeBucketed) the shuffle disappears
    * entirely. Output is |changed keys| — the deliverable a downstream
    * MERGE applies, a fraction of either snapshot. */
  def x37_snapshot_cdc(s: SparkSession, dir: String): DataFrame =
    cdcDiff(s, dir).orderBy(col("o_orderkey"))


  /** The x37 diff body without the presentation sort — shared with x58,
    * whose apply join would otherwise carry a pointless inner ORDER BY. */
  private[queries] def cdcDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val k = col("o_orderkey")
    val oldSnap = o.filter(Sampling.saltedHashPredicate(k, "a", CdcSnapFrac))
      .select(k, col("o_totalprice").as("old_price"), lit(true).as("in_old"))
    val newSnap = o.filter(Sampling.saltedHashPredicate(k, "b", CdcSnapFrac))
      .select(k,
        when(Sampling.saltedHashPredicate(k, "u", CdcTouchFrac),
          col("o_totalprice") + CdcPriceDelta)
          .otherwise(col("o_totalprice")).as("new_price"),
        lit(true).as("in_new"))
    oldSnap.join(newSnap, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("in_old").isNull, lit("insert"))
          .when(col("in_new").isNull, lit("delete"))
          .when(col("old_price") =!= col("new_price"), lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(col("o_orderkey"), col("change_type"),
        col("old_price"), col("new_price"))
  }


  // ---- x58: CDC round-trip — apply(v1, cdc) == v2 -------------------------

  /** The consumer half of x37, closing the round-7 verdict's open item
    * ("x37's CDC output is never applied"): reconstruct snapshot v2 by
    * MERGE-applying the x37 change set to snapshot v1 (`ops.Cdc` — one
    * equi-join, change-set side broadcastable). The ORACLE computes v2
    * DIRECTLY from the base table — it never sees v1 or the diff — so a
    * hash match proves the diff is SUFFICIENT to reconstruct v2, the
    * property a MERGE INTO consumer actually relies on. */
  def x58_cdc_apply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val k = col("o_orderkey")
    val v1 = o.filter(Sampling.saltedHashPredicate(k, "a", CdcSnapFrac))
      .select(k, col("o_totalprice").as("price"))
    Cdc.applyChanges(v1, cdcDiff(s, dir),
        "o_orderkey", "price", "new_price")
      .orderBy(k)
  }


  // ---- x40: conversion-funnel journeys ------------------------------------

  /** Per-user funnel table — the event-analytics staple x12/x13/x15 do
    * not cover: for every user with a view, their first view, their
    * first STRICTLY-LATER click, and their first strictly-later-still
    * purchase (absent stages stay NULL — the funnel report is one
    * aggregation over this). Each stage is one keyed min-aggregate and
    * one equi-join on user_id; every shuffle in the chain is on the SAME
    * key, so after the first exchange the whole funnel is key-local
    * (Catalyst reuses the hashpartitioning — at 100 TB the funnel costs
    * one shuffle of each event slice, never a re-partition). Timestamps
    * exported as epoch_us (the x12/x15 parity convention). */
  def x40_funnel_journeys(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def slice(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"), col("ts"))
    val v = slice("view").groupBy(col("user_id"))
      .agg(min(col("ts")).as("fv"))
    val c = slice("click").join(v, Seq("user_id"))
      .filter(col("ts") > col("fv"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("fc"))
    val p = slice("purchase").join(c, Seq("user_id"))
      .filter(col("ts") > col("fc"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("fp"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        unix_micros(col("fv")).as("first_view_us"),
        unix_micros(col("fc")).as("first_click_us"),
        unix_micros(col("fp")).as("first_purchase_us"))
      .orderBy(col("user_id"))
  }


  // ---- x41: weekly cohort retention ---------------------------------------

  /** Cohort-retention matrix — with x40's funnel, the other half of the
    * product-analytics pair: users are cohorted by the Monday of their
    * FIRST PURCHASE's week (the conversion anchor — cohorting on first
    * activity is degenerate on this corpus, every user is active from
    * week one, and a cohort split the gate never sees split is not
    * tested), and each (cohort, week-offset) cell counts distinct
    * cohort members active — any event — that many weeks later; offset
    * 0 includes pre-purchase same-week activity by construction. Both
    * week anchors are `date_trunc('week')` Mondays, so day deltas are
    * exact multiples of 7 and the offset divide is exact on both
    * engines. Shape: one keyed min-agg for the cohort anchor, one
    * equi-join back on user_id (non-purchasers drop out — inner), one
    * distinct-count — the standard two-level distinct that
    * partial-aggregates on (cohort, offset, user) before the final
    * count, so no cell ever materializes its full user list on one
    * reducer. */
  def x41_cohort_retention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("ts"), col("event_type"))
    val cohorts = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("user_id"), col("cohort_week"),
        (datediff(date_trunc("week", col("ts")), col("cohort_week")) / 7)
          .cast(LongType).as("week_offset"))
      .filter(col("week_offset") >= 0) // pre-cohort-week activity is not retention
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(unix_micros(col("cohort_week")).as("cohort_week_us"),
        col("week_offset"), col("n_active"))
      .orderBy(col("cohort_week_us"), col("week_offset"))
  }


  // ---- x42: data-quality expectations audit -------------------------------

  /** The dbt-test / expectations audit a pipeline runs before promoting a
    * load: one (rule, n_violations, n_checked) row per declared rule.
    * Scale shape: all rules on one table FUSE into a single conditional
    * aggregation over one scan (`stack` unpivots the counters to rows) —
    * at 100 TB you pay one pass per table, not one per rule. The FK rule
    * is folded into lineitem's fused pass as a LEFT join against the
    * parent's distinct key projection with a presence marker (null marker
    * ⇒ orphan) — the same single scan also counts the quantity rule, so
    * the referential check costs one join, never an extra table pass.
    * Two rules are chosen to FIRE on this corpus (date horizon, quantity
    * cap) and five to pass — both report paths are proven, not just the
    * all-green one. All-integer output. */
  def x42_expectations(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderdate") > lit("2000-12-31").cast("timestamp"), 1L)
          .otherwise(0L)).as("v_date"),
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v_price"))
      .selectExpr(
        "stack(2, 'orders_date_horizon_2000', v_date, 'orders_price_positive', v_price) AS (rule, n_violations)",
        "n AS n_checked")
    val parentKeys = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey")).distinct()
      .withColumn("parent_hit", lit(1))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"))
      .join(parentKeys, Seq("l_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(!col("l_quantity").between(1, 40), 1L).otherwise(0L)).as("v_qty"),
        sum(when(col("parent_hit").isNull, 1L).otherwise(0L)).as("v_fk"))
      .selectExpr(
        "stack(2, 'lineitem_quantity_cap_40', v_qty, 'lineitem_orders_fk', v_fk) AS (rule, n_violations)",
        "n AS n_checked")
    val pk = Tables.part(s, dir)
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - countDistinct(col("p_partkey"))).as("v"))
      .select(lit("part_pk_unique").as("rule"),
        col("v").as("n_violations"), col("n").as("n_checked"))
    val cu = Tables.customer(s, dir)
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - count(col("c_name"))).as("v"))
      .select(lit("customer_name_not_null").as("rule"),
        col("v").as("n_violations"), col("n").as("n_checked"))
    val ev = Tables.events(s, dir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < 0.0, 1L).otherwise(0L)).as("v"))
      .select(lit("events_value_nonnegative").as("rule"),
        col("v").as("n_violations"), col("n").as("n_checked"))
    o.unionByName(li).unionByName(pk)
      .unionByName(cu).unionByName(ev)
      .orderBy(col("rule"))
  }


  // ---- x43: SCD type-2 history assembly -----------------------------------

  /** How many synthetic snapshot versions x43 assembles, and the
    * per-version touch fraction (independent salted draws per version,
    * cumulative: version v applies every delta with draw < v's salt —
    * so some keys change at v2 only, some at v3 only, some at both,
    * some never; every segment shape the assembler must handle occurs
    * at every tested scale). */
  val ScdVersions = 3

  val ScdTouchFrac = 0.25


  /** Slowly-changing-dimension type-2 assembly — the companion to x37's
    * CDC diff: given V point-in-time snapshots of `orders`, emit the
    * versioned history (key, price, valid_from, valid_to) with one row
    * per UNBROKEN run of equal values (valid_to = V for the open
    * segment). The snapshots here are synthesized from one base table
    * with deterministic salted deltas; a real pipeline reads stored
    * snapshots — the assembly is identical. Gaps-and-islands per key:
    * LAG over a (key)-partitioned, version-ordered window marks change
    * points, a running SUM of the marks labels segments, one aggregate
    * per (key, segment) emits the interval. The window partitions by
    * key over exactly V rows — bounded state, shuffle on the key the
    * snapshots are already stored by (bucketed layouts make it
    * shuffle-free). */
  def x43_scd2_history(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.orders(s, dir).select(
      col("o_orderkey").as("k"), col("o_totalprice").as("p0"))
    // version v's value: base price + delta for every version draw <= v
    // that hits — cumulative, so changes persist into later versions
    val versions = (1 to ScdVersions).map { v =>
      val bumps = (2 to v).map { u =>
        when(Sampling.saltedHashPredicate(col("k"), s"v$u", ScdTouchFrac),
          lit(CdcPriceDelta)).otherwise(lit(0.0))
      }
      base.select(col("k"), lit(v.toLong).as("version"),
        bumps.foldLeft(col("p0"))(_ + _).as("price"))
    }.reduce(_ unionByName _)
    val byKey = Window.partitionBy(col("k")).orderBy(col("version"))
    versions
      .withColumn("chg",
        when(lag(col("price"), 1).over(byKey).isNull ||
          lag(col("price"), 1).over(byKey) =!= col("price"), 1L)
          .otherwise(0L))
      .withColumn("seg", sum(col("chg")).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("k"), col("seg"), col("price"))
      .agg(min(col("version")).as("valid_from"),
        max(col("version")).as("valid_to"))
      .select(col("k").as("o_orderkey"), col("price"),
        col("valid_from"), col("valid_to"))
      .orderBy(col("o_orderkey"), col("valid_from"))
  }


  /** x82 executed in TRUE streaming mode: the incoming vectors arrive
    * as a file stream and the sampled-band index is STREAMING STATE
    * ([[graft.streaming.AnnStreams]] — transformWithState ListState
    * keyed by band key, seeded from the base corpus). The ORACLE is
    * x82's verbatim: the streamed neighbor lists must equal the batch
    * answer row for row. The processor emits scored candidates; the
    * per-vector top-k rank runs in the sink PER MICRO-BATCH, which is
    * exact because all of an incoming vector's band rows ride in its
    * own micro-batch (only the BASE side is indexed, so candidates for
    * one vector cannot span batches — the x55 argument). Multi-band
    * collisions canonicalized per batch (the batch `.distinct()`);
    * `batch_id=N` overwrite keeps the sink idempotent. */
  def x82_incremental_knn_stream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val embSchema = Tables.schema(s, dir, "embeddings")
      val tmp = streamTmpDir("graft_x82_stream_")
      val out = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val landing = tmp.resolve("landing")
      stageTableLanding(dir, "embeddings", landing, "vecs")
      val inBase = Sampling.hashThresholdPredicate(col("vec_id"), BaseFrac)
      val base = Tables.embeddings(s, dir).filter(inBase)
      // Loud precondition (the x84/x59 discipline, round-10 advice): the
      // processor SATURATES any bucket past KnnStreamBucketCap (members
      // cleared, candidates silently dropped) while the gated batch
      // oracle applies no cap — so a base corpus whose worst band bucket
      // exceeds the cap would fail the stream-equals-batch gate as an
      // opaque hash mismatch. Measure the worst bucket up front and fail
      // with the real message instead. One aggregate over the base band
      // rows — noise next to the stream run this function already pays.
      // DELIBERATELY PERMANENT (round 13, reconciling the two fence
      // contracts): the batch side's cap degrades into the bounded
      // residual fallback (x101), the stream side's cap fails loud and
      // stays that way — an in-stream residual fallback would need a
      // corpus-wide Lloyd pass (unbounded state or a stale prefix
      // model). The remedy at the cap is a scheduled batch re-index
      // (x99's frozen-quantizer cadence + x101's fenced builder); see
      // SCALING.md "The oversized-cell production rule".
      val maxBucket = graft.streaming.AnnStreams
        .bandVecs(base, "vec_id", "embedding", SampledBands,
          SampledBandBits, EmbeddingDims, SampledSeed)
        .groupBy(col("bkey")).agg(count(lit(1)).as("n"))
        .agg(coalesce(max(col("n")), lit(0L)).as("mx"))
        .first().getLong(0)
      require(maxBucket <= KnnStreamBucketCap,
        s"x82_stream precondition violated: worst base band bucket holds " +
          s"$maxBucket vectors > KnnStreamBucketCap=$KnnStreamBucketCap — " +
          "the stream twin would saturate that bucket and silently drop " +
          "candidates the uncapped batch oracle keeps. Raise the cap to " +
          "at least the measured max (or shard the hot bucket) before " +
          "gating this corpus.")
      val incoming = s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", streamMaxFiles)
        .parquet(landing.toString)
        .filter(!inBase)
      val q = graft.streaming.AnnStreams.knnIngestStream(
          incoming, base, "vec_id", "embedding",
          bands = SampledBands, bitsPerBand = SampledBandBits,
          dims = EmbeddingDims, seed = SampledSeed,
          hotBucketCap = Some(KnnStreamBucketCap))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[graft.streaming.AnnStreams.KnnCand],
           id: Long) =>
            val w = Window.partitionBy(col("vec_id"))
              .orderBy(desc("cosine"), col("base_id"))
            batch.dropDuplicates("vec_id", "base_id")
              .withColumn("rnk", row_number().over(w).cast(LongType))
              .filter(col("rnk") <= KnnGraphK)
              .write.mode("overwrite").parquet(s"$out/batch_id=$id")
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.option("basePath", out).parquet(out)
        .select(col("vec_id"), col("base_id"), col("cosine"), col("rnk"))
        .orderBy(col("vec_id"), col("rnk"))
    } finally prevProv match {
      case Some(v) => s.conf.set(provKey, v)
      case None => s.conf.unset(provKey)
    }
  }


  /** x55 executed in TRUE streaming mode (round-9 stretch; the x12/x13/
    * x65 discipline applied to the dedup index): the incoming half of
    * the corpus arrives as a file stream, and the LSH band index is
    * STREAMING STATE — `transformWithState` ListState keyed by band
    * bucket, seeded from the base corpus via the initial-state API
    * ([[graft.streaming.DedupStreams]]) — the production nightly-crawl
    * form where the dedup gate runs at ingest, not behind a batch job.
    * The ORACLE is x55's, verbatim: the streamed matches must equal the
    * batch batch-vs-base answer row for row, which makes "the in-state
    * index is the stored batch index" an oracle-gated fact instead of a
    * spec claim. Multi-band collisions are canonicalized by a streaming
    * dropDuplicates (the batch side's candidate `.distinct()`);
    * per-batch `batch_id=N` overwrite keeps the at-least-once
    * foreachBatch sink idempotent (the x13 discipline). transformWithState
    * requires the RocksDB state-store provider — set for the query's
    * lifetime and restored after. */
  /** x55_stream hot-bucket cap (round-9 verdict #2): buckets past this
    * saturate — state cleared, no further index/verify (the batch
    * minhashLshPairs hot-bucket guard ported into the processor). The
    * benchmarked corpora sit far under it (max seed bucket ≲ 10 docs at
    * sf0.1), so the registry run's cap is a NO-OP and the x55 oracle's
    * exhaustive semantics hold exactly — the x59/SemDedupClusterCap
    * discipline: the degenerate mode is fenced (StreamIncLshSpec pins
    * the saturation behavior) without perturbing the gated answer. */
  val LshStreamBucketCap = 1000


  // ---- x12/x13: event-stream analytics (batch form of the streaming ops) --

  def x12_events_tumbling(s: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingStats(Tables.events(s, dir), "1 hour")
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start_us"), col("event_type"))


  def x13_events_sessions(s: SparkSession, dir: String): DataFrame =
    EventStreams.userSessions(Tables.events(s, dir), "30 minutes")
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start_us"))


  /** x12 executed in TRUE streaming mode — the round-5 verdict's ask #6:
    * the same [[EventStreams.tumblingStats]] transform, but fed by a file
    * readStream over the events parquet and drained through foreachBatch
    * into a parquet sink, then read back and compared against the SAME
    * DuckDB oracle as the batch twin. This upgrades "the projection runs
    * unchanged at ingest" from a MemoryStream spec claim to an
    * oracle-gated fact: the streaming run's final output hash-matches the
    * batch oracle row for row.
    *
    * Mechanics: `maxFilesPerTrigger=1` forces at least one genuine
    * micro-batch boundary whenever the source has >1 file, so aggregation
    * state really is built incrementally; OutputMode.Complete re-emits the
    * full aggregate each batch and the foreachBatch overwrite keeps the
    * sink idempotent (the crash/restart exactly-once discipline
    * StreamingSpec proves). Complete mode holds all window state — correct
    * here because the oracle needs every window; a production ingest at
    * 100 TB/day runs the watermarked append twin
    * ([[EventStreams.watermarkedTumblingStats]], StreamingSpec) whose
    * state is bounded by the lateness horizon instead. The temp sink/
    * checkpoint dirs are per-invocation (streams cannot share checkpoints
    * with different run ids) and deleted on JVM exit. */
  /** Temp roots awaiting deletion at JVM exit — ONE process-wide hook
    * drains the queue (a hook per invocation would accumulate live
    * Thread objects for the process lifetime under repeated bench/soak
    * runs). */
  private[queries] val streamTmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  private[queries] lazy val streamTmpHook: Unit = {
    import java.nio.file.{Files, LinkOption, Path}
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def nuke(p: Path): Unit = {
        if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
          val l = Files.list(p)
          try l.iterator().forEachRemaining(nuke) finally l.close()
        }
        Files.deleteIfExists(p)
      }
      var p = streamTmpDirs.poll()
      while (p != null) {
        try nuke(p) catch { case _: Throwable => () }
        p = streamTmpDirs.poll()
      }
    }))
  }


  /** Per-invocation temp root for the streaming twins, recursively
    * deleted at JVM exit — `File.deleteOnExit` is per-path and
    * non-recursive, so on a non-empty dir it silently no-ops and every
    * invocation would leak its checkpoint + sink + landing data. */
  private[queries] def streamTmpDir(prefix: String): java.nio.file.Path = {
    streamTmpHook
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    streamTmpDirs.add(tmp)
    tmp
  }


  /** Stage the events table into a fresh landing directory by symlink —
    * FileStreamSource ingests a DIRECTORY (its basePath is forced to the
    * source path, so a bare file errors), and the symlinks resolve to
    * the ORIGINAL file mtimes, so staged data always sorts before
    * anything written into the landing dir afterwards (the source
    * processes oldest-first). Single-file tables stage as one link; dir
    * tables link every contained parquet file. */
  /** Micro-batch granularity for the streaming twins. Default 1 file per
    * trigger — the strictest incremental-state exercise (state must
    * survive a batch boundary between any two rows of different files).
    * `SPARK_GRAFT_STREAM_MAX_FILES` widens it for the batch-size
    * sensitivity measurement (PLANS.md): the OUTPUT is invariant to this
    * knob by construction — state convergence cannot depend on batch
    * slicing — so only wall time moves. */
  private[graft] def streamMaxFiles: Int =
    sys.props.get("graft.stream.maxFiles")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_MAX_FILES"))
      .map(_.toInt).getOrElse(1)


  private[queries] def stageEventsLanding(dir: String,
                                 landing: java.nio.file.Path,
                                 tag: String = "events"): Unit =
    stageTableLanding(dir, "events", landing, tag)


  private[queries] def stageTableLanding(dir: String, table: String,
                                landing: java.nio.file.Path,
                                tag: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(landing)
    // Absolute target, or a relative `dir` yields symlinks that resolve
    // against the LANDING dir (dangling) — batch reads tolerate relative
    // paths (resolved against cwd), the staged stream must too.
    // `tag` names the link files — a second staging wave under a distinct
    // tag re-delivers the same data without colliding (x65's replay).
    val src = Paths.get(dir, s"$table.parquet").toAbsolutePath.normalize()
    if (Files.isDirectory(src)) {
      val listing = Files.list(src)
      try {
        val it = listing.iterator()
        var i = 0
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) {
            Files.createSymbolicLink(
              landing.resolve(f"$tag%s-$i%05d.parquet"), f)
            i += 1
          }
        }
      } finally listing.close()
    } else {
      Files.createSymbolicLink(landing.resolve(s"$tag-00000.parquet"), src)
    }
  }


  def x12_events_tumbling_stream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val batchSchema = Tables.schema(s, dir, "events")
    val tmp = streamTmpDir("graft_x12_stream_")
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val landing = tmp.resolve("landing")
    stageEventsLanding(dir, landing)
    val raw = s.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", streamMaxFiles)
      .parquet(landing.toString)
    val ev = Tables.surfaceEventTs(raw)
    val q = EventStreams.tumblingStats(ev, "1 hour")
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start_us"), col("event_type"))
  }


  /** x13 executed in TRUE streaming mode — the harder streaming gate:
    * session windows cannot run in complete mode (Spark requires
    * watermarked append/update for session merges), so unlike x12's
    * re-emit-everything form this proves the APPEND discipline end to
    * end: a session row is emitted exactly once, only after the
    * watermark passes its close, out of state that merged it across
    * micro-batch boundaries.
    *
    * The tail problem append mode creates — the final sessions close
    * only when the watermark passes them, and a finite replay's
    * watermark stops at the last real event — is solved the way a
    * production pipeline does it: a PUNCTUATION (heartbeat) event far
    * past the data horizon arrives as its own final micro-batch,
    * advancing the watermark so every real session finalizes. The
    * sentinel's own session never closes (nothing arrives after it), so
    * it never appears in the append output — no filtering, no
    * reconciliation; the emitted rows must equal the batch twin's
    * gaps-and-islands oracle EXACTLY, which is the gated claim.
    *
    * Staging mirrors x12 ([[stageEventsLanding]]); the sentinel parquet
    * is written AFTER so its newer mtime orders it last
    * (FileStreamSource processes oldest-first), and
    * `maxFilesPerTrigger=1` keeps real data and punctuation in separate
    * micro-batches — the watermark only advances between batches.
    *
    * Two replay-vs-production knobs, both load-bearing:
    *  - the watermark DELAY is the full replayed history
    *    ([[ReplayLateness]]), not a production-tight horizon: a replay's
    *    files carry no cross-file time order (Spark-written part files
    *    interleave arbitrarily), so any event older than a previous
    *    file's max would be dropped as late under a tight horizon — the
    *    horizon must cover the replayed span, and state stays bounded
    *    because the replay itself is. A live ingest with near-ordered
    *    arrival tightens it back (StreamingSpec's watermark specs).
    *  - the sink writes each micro-batch to its own `batch_id=N`
    *    directory with overwrite — foreachBatch is at-least-once, and a
    *    retried batch must overwrite ITS OWN output, not append a
    *    duplicate (blind append would double sessions under retry). */
  def x13_events_sessions_stream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.Trigger
    val batchSchema = Tables.schema(s, dir, "events")
    val tmp = streamTmpDir("graft_x13_stream_")
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val landing = tmp.resolve("landing")
    stageEventsLanding(dir, landing)
    // Punctuation event at 2100-01-01, in the file's own ts encoding
    // (TIMESTAMP(NANOS) surfaces as long under nanosAsLong; NTZ-annotated
    // micros surface as TIMESTAMP_NTZ, whose external type is
    // LocalDateTime — a java.sql.Timestamp there fails encoding).
    val farFutureUs = 4102444800000000L // 2100-01-01T00:00:00Z in micros
    val tsValue: Any = batchSchema("ts").dataType match {
      case LongType => farFutureUs * 1000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        java.time.LocalDateTime.ofEpochSecond(
          farFutureUs / 1000000L, 0, java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(farFutureUs / 1000000L))
    }
    val sentinelRow = Row.fromSeq(batchSchema.fields.map {
      case f if f.name == "ts" => tsValue
      case f if f.name == "event_id" => -1L
      case f if f.name == "user_id" => -1L
      case f if f.name == "event_type" => "punctuation"
      case f if f.name == "value" => 0.0
      case _ => null
    }.toSeq)
    s.createDataFrame(java.util.List.of(sentinelRow), batchSchema)
      .coalesce(1).write.mode("append").parquet(landing.toString)
    val raw = s.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", streamMaxFiles)
      .parquet(landing.toString)
    val ev = Tables.surfaceEventTs(raw)
    val q = EventStreams.watermarkedUserSessions(ev, "30 minutes", ReplayLateness)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the named projection excludes the inferred batch_id partition col
    s.read.parquet(out)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start_us"))
  }


  /** Watermark delay for the x13 replay: wide enough that NO event in
    * the replayed history can be late relative to any other (files
    * carry no cross-file order), while the 2100 punctuation still lands
    * the final watermark decades past the data — every real session
    * closes, the sentinel's never does. ~60 years in days. */
  val ReplayLateness = "21900 days"


  // ---- x65: streaming exact dedup under at-least-once redelivery ----------

  /** The ingest half of x01 run as a STREAM: the events table is staged
    * into the landing directory TWICE (two symlink waves — a replayed
    * ingest, the at-least-once redelivery failure mode every 100 TB
    * pipeline must absorb), and
    * `dropDuplicatesWithinWatermark("event_id")`
    * ([[EventStreams.dedupedEvents]]) collapses the redelivery back to
    * exactly-once out of keyed state, across micro-batch boundaries
    * (`maxFilesPerTrigger=1` forces the two copies of every row into
    * DIFFERENT batches). The oracle aggregates the PLAIN single-copy
    * table: the stream saw every row twice, so a dedup that leaked even
    * one key would double a count and hash-mismatch — the
    * streaming-mode-oracle discipline of x12/x13 applied to the one
    * stateful streaming API the family had only spec'd
    * (StreamingSpec:213). Redelivered rows are byte-identical here, so
    * "keep first arrival" is deterministic as a SET whatever the file
    * interleaving. Watermark horizon = [[ReplayLateness]]: within a
    * replay nothing may expire mid-run (state stays keyed on every id);
    * production sets it to the redelivery SLA and state size becomes
    * |keys within horizon| — that knob, not corpus size, bounds memory.
    * Sink: per-batch overwrite dirs (x13's at-least-once discipline). */
  def x65_stream_dedup_replay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val batchSchema = Tables.schema(s, dir, "events")
    val tmp = streamTmpDir("graft_x65_stream_")
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    val landing = tmp.resolve("landing")
    stageEventsLanding(dir, landing)
    stageEventsLanding(dir, landing, tag = "events-redeliver")
    val raw = s.readStream.schema(batchSchema)
      .option("maxFilesPerTrigger", streamMaxFiles)
      .parquet(landing.toString)
    val ev = Tables.surfaceEventTs(raw)
    val q = EventStreams.dedupedEvents(ev, ReplayLateness)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(DoubleType).as("total_value"))
      .orderBy(col("event_type"))
  }

  protected def queriesStream: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x12_events_tumbling" -> (x12_events_tumbling _),
    "x12_events_tumbling_stream" -> (x12_events_tumbling_stream _),
    "x13_events_sessions" -> (x13_events_sessions _),
    "x13_events_sessions_stream" -> (x13_events_sessions_stream _),
    "x37_snapshot_cdc" -> (x37_snapshot_cdc _),
    "x40_funnel_journeys" -> (x40_funnel_journeys _),
    "x41_cohort_retention" -> (x41_cohort_retention _),
    "x42_expectations" -> (x42_expectations _),
    "x43_scd2_history" -> (x43_scd2_history _),
    "x58_cdc_apply" -> (x58_cdc_apply _),
    "x65_stream_dedup_replay" -> (x65_stream_dedup_replay _),
    "x82_incremental_knn_stream" -> (x82_incremental_knn_stream _))

  protected def oracleSqlStream: Map[String, String] = Map(

    "x12_events_tumbling" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS window_start_us,
        |       event_type, count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,


    // The streaming-mode run must equal the batch aggregate exactly —
    // SAME oracle text as x12_events_tumbling: that identity IS the claim
    // being gated (incremental state across micro-batches converges to
    // the batch answer).
    "x12_events_tumbling_stream" ->
      """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS window_start_us,
        |       event_type, count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin,


    // The append-mode streaming run must equal the batch sessionization
    // exactly — SAME oracle text as x13_events_sessions: each session
    // emitted once, after its watermark close, out of merged state.
    "x13_events_sessions_stream" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       epoch_us(min(ts)) AS session_start_us,
        |       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,


    "x13_events_sessions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |       epoch_us(min(ts)) AS session_start_us,
        |       epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,


    // Snapshot CDC: both membership draws and the touched-row draw are
    // interpolated from the SAME (salt, frac) constants as the Spark
    // side (Sampling.saltedHashPredicate / cutFor); presence via the
    // outer join's key nullability mirrors the marker columns.
    "x37_snapshot_cdc" ->
      s"""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
         |olds AS (
         |  SELECT k, p AS old_price FROM o
         |  WHERE substr(md5(CAST(k AS VARCHAR) || 'a'), 1, 8) < '${Sampling.cutFor(CdcSnapFrac)}'),
         |news AS (
         |  SELECT k,
         |         CASE WHEN substr(md5(CAST(k AS VARCHAR) || 'u'), 1, 8) < '${Sampling.cutFor(CdcTouchFrac)}'
         |              THEN p + $CdcPriceDelta ELSE p END AS new_price
         |  FROM o
         |  WHERE substr(md5(CAST(k AS VARCHAR) || 'b'), 1, 8) < '${Sampling.cutFor(CdcSnapFrac)}'),
         |j AS (
         |  SELECT COALESCE(olds.k, news.k) AS o_orderkey, old_price, new_price,
         |         CASE WHEN olds.k IS NULL THEN 'insert'
         |              WHEN news.k IS NULL THEN 'delete'
         |              WHEN old_price <> new_price THEN 'update'
         |              ELSE 'unchanged' END AS change_type
         |  FROM olds FULL OUTER JOIN news ON olds.k = news.k)
         |SELECT o_orderkey, change_type, old_price, new_price
         |FROM j WHERE change_type <> 'unchanged'
         |ORDER BY o_orderkey""".stripMargin,


    // x58: the oracle is snapshot v2 computed DIRECTLY from the base
    // table (same (salt, frac, delta) constants as x37) — it never sees
    // v1 or the change set. The Spark side reconstructs v2 as
    // apply(v1, x37-diff), so hash equality proves the diff SUFFICIENT,
    // the MERGE INTO consumer's actual contract.
    "x58_cdc_apply" ->
      s"""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders)
         |SELECT k AS o_orderkey,
         |       CASE WHEN substr(md5(CAST(k AS VARCHAR) || 'u'), 1, 8) < '${Sampling.cutFor(CdcTouchFrac)}'
         |            THEN p + $CdcPriceDelta ELSE p END AS price
         |FROM o
         |WHERE substr(md5(CAST(k AS VARCHAR) || 'b'), 1, 8) < '${Sampling.cutFor(CdcSnapFrac)}'
         |ORDER BY o_orderkey""".stripMargin,


    // SCD2 assembly: version rows generated from the SAME (salt, frac,
    // delta) constants as the Spark side; gaps-islands via lag + running
    // sum. Prices are base + exact multiples of the binary-exact delta,
    // so the <> change test is reliable on doubles in both engines.
    "x43_scd2_history" ->
      s"""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p0 FROM orders),
         |vers AS (
         |$scdVersionRowsSql),
         |m AS (
         |  SELECT k, version, price,
         |         CASE WHEN lag(price) OVER (PARTITION BY k ORDER BY version) IS NULL
         |                OR lag(price) OVER (PARTITION BY k ORDER BY version) <> price
         |              THEN 1 ELSE 0 END AS chg
         |  FROM vers),
         |sg AS (
         |  SELECT k, version, price,
         |         SUM(chg) OVER (PARTITION BY k ORDER BY version
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
         |  FROM m)
         |SELECT k AS o_orderkey, price,
         |       CAST(min(version) AS BIGINT) AS valid_from,
         |       CAST(max(version) AS BIGINT) AS valid_to
         |FROM sg GROUP BY k, seg, price
         |ORDER BY o_orderkey, valid_from""".stripMargin,

    "x82_incremental_knn_stream" -> x82OracleSql,


    // x65: the oracle aggregates the PLAIN single-copy events table —
    // the stream ingested every row TWICE, so equality here is the
    // exactly-once claim itself (a leaked key doubles a count).
    "x65_stream_dedup_replay" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    // Expectations audit: one scalar aggregate per rule, UNION ALL; the
    // two binding rules (date horizon, quantity cap) prove the firing
    // path, the rest the all-green path.
    "x42_expectations" ->
      """SELECT 'orders_date_horizon_2000' AS rule,
        |       CAST(sum(CASE WHEN o_orderdate > TIMESTAMP '2000-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |       count(*) AS n_checked
        |FROM orders
        |UNION ALL
        |SELECT 'orders_price_positive',
        |       CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT), count(*)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_quantity_cap_40',
        |       CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 40 THEN 1 ELSE 0 END) AS BIGINT), count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_orders_fk',
        |       CAST((SELECT count(*) FROM lineitem
        |             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
        |       count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'part_pk_unique',
        |       CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT), count(*)
        |FROM part
        |UNION ALL
        |SELECT 'customer_name_not_null',
        |       CAST(count(*) - count(c_name) AS BIGINT), count(*)
        |FROM customer
        |UNION ALL
        |SELECT 'events_value_nonnegative',
        |       CAST(sum(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) AS BIGINT), count(*)
        |FROM events
        |ORDER BY rule""".stripMargin,


    // Cohort retention: both week anchors are date_trunc Mondays, so the
    // day delta is an exact multiple of 7 and CAST(x/7) truncates nothing.
    "x41_cohort_retention" ->
      """WITH fw AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |act AS (
        |  SELECT e.user_id, fw.cohort_week,
        |         CAST(date_diff('day', fw.cohort_week,
        |                        date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_offset
        |  FROM events e JOIN fw ON e.user_id = fw.user_id)
        |SELECT epoch_us(cohort_week) AS cohort_week_us, week_offset,
        |       count(DISTINCT user_id) AS n_active
        |FROM act WHERE week_offset >= 0 GROUP BY 1, 2
        |ORDER BY cohort_week_us, week_offset""".stripMargin,


    // Funnel: stage minima via progressively-filtered keyed aggregates;
    // strict > at every stage, NULLs ride the left joins.
    "x40_funnel_journeys" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS fv FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS fc
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.fv GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS fp
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.fc GROUP BY 1)
        |SELECT v.user_id,
        |       epoch_us(fv) AS first_view_us,
        |       epoch_us(fc) AS first_click_us,
        |       epoch_us(fp) AS first_purchase_us
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin)
}
