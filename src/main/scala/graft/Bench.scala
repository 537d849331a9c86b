package graft

import org.apache.spark.metrics.source.CodegenMetrics

object Bench {
  /** The headline set: the reference workload's own 26 queries (the
    * surface BASELINE measures — SURVEY §2.12). The engine's extension
    * queries (s12+, x*) are timed too, but under "extended"; folding them
    * into the headline total would compare a 49-query run against a
    * 26-query baseline. */
  val Headline: Set[String] = Set(
    "q01_dup", "q01_null", "q02_top_parts_usa", "q03_demographics",
    "q04_rev_by_geo", "q05_top_cust_per_country", "q06_top_part_per_cust",
    "q07_purchase_trends", "q08_churn_rate", "q09_genre_sales",
    "q09_top_brands", "q10_multi_genre_cust", "q11_genre_rank",
    "q12_inactive", "s01_parts_to_promote", "s02_top_genres_non_usa",
    "s03_old_vs_new", "s04_affinity_genre", "s04_affinity_brand",
    "s04_affinity_part", "s05_regional_churn", "s05_regional_behavior",
    "s06_risk_profile", "s07_clv", "s10_schema_evolution",
    "s11_country_metrics")

  /** The stdout JSON line must fit in this many chars (see its use). */
  private val StdoutWindow = 1880

  /** Measurement protocol (run-to-run variance at sf0.1 is ±30% on single
    * runs, so single-shot numbers are noise):
    *  - every query runs `reps` times (default 3) and reports the MEDIAN;
    *  - the two shared cached relations the reference-workload family
    *    reuses (view aggregate, grouped baskets) are built ONCE, timed as
    *    their own "shared_cache_build" line, and included in the headline
    *    total — previously their build cost silently landed on whichever
    *    family member happened to run first;
    *  - extension queries manage their own caches (ExtCaches); those are
    *    released before each query's first rep, so rep 1 pays the
    *    operator's honest cold cost and the median reflects the warm
    *    steady state, with nothing leaking into later queries;
    *  - all caches are released after each family, so no query is
    *    measured while another family's cached relations occupy unified
    *    memory. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    // Warm-up: initialize parquet reader, codegen compiler, shuffle system
    // once so the first timed query doesn't absorb one-time JVM setup.
    // Running the full registry (plus the shared-cache consumers) against
    // the TINY sf dir compiles and JIT-profiles the whole-stage-codegen
    // classes the timed sf0.1 runs need — the generated source is mostly
    // identical (literals and operators, not paths, appear in it), so the
    // timed reps find those classes in Spark's generated-class cache.
    // That holds only because GraftSession sizes the cache above what a
    // whole run compiles: 2,227 compiles at sf0.1 (1,787 of them here)
    // against CodegenCacheEntries = 4096; at Spark's default of 100
    // entries the cache kept only the last ~100 classes and every timed
    // rep recompiled. The `cg` column and `codegen_compiles` below show
    // what the timed reps still compile: the five streaming lines (x12,
    // x13, x55, x65, x82) compile their classes again on every rep (each
    // stream runs in a cloned session whose tasks get a new class loader,
    // and the cache key includes the loader), and a few lines compile 2 on
    // one rep. Measured round 5: without this
    // pre-warm, whichever heavy star query ran FIRST absorbed the fleet's
    // one-time JIT (q02 reps at sf0.1: 5.4 s, 3.0 s, 1.3 s — a median of
    // 3.0 s for a query whose steady state is 1.3 s). Only the tiny dir is
    // touched — every data cache is dropped before timing starts, so this
    // warms the JVM, never the measured data path.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val tiny = "/root/testdata/sf0.001"
    if (new java.io.File(tiny).isDirectory) {
      // finally: a partially-failed warmup must still drop the tiny-dir
      // cache entries — leaving them persisted through the timed run
      // would violate the measurement protocol above.
      try {
        graft.queries.Chinook.warmCaches(spark, tiny)
        // The FULL registry, not just the headline family: a round-8 A/B
        // (SURVEY.md's r7 bench row) measured x51's fresh-JVM first run
        // at 10.9 s vs a 2.0 s cold steady state — pure one-time
        // JIT/codegen that otherwise lands in whichever extension rep
        // runs it first. Tiny-dir cost for the extension family is
        // seconds; every timed rep then runs hot.
        SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
          try SparkEntry.queries(name)(spark, tiny).count()
          catch { case _: Throwable => () }
        }
      } catch { case _: Throwable => () }
      finally {
        // guarded: a throwing clear (e.g. stopped context) must not abort
        // the bench before any JSON line is emitted
        try graft.ext.ExtCaches.clearCaches() catch { case _: Throwable => () }
      }
    } else System.err.println(
      s"[bench] $tiny missing — codegen pre-warm skipped")

    val errors = scala.collection.mutable.ListBuffer.empty[String]
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // ---- self-attribution telemetry (round-8 verdict: the official
    // record's x51/x52/x54/x55/x56 tail ran 3-18x the committed same-code
    // values with NOTHING in the record explaining why). Each query line in
    // bench_detail.json now carries enough evidence to attribute its own
    // anomalies without a re-run:
    //   r  — RAW per-rep seconds (a median hides which rep was slow; a
    //        cold first rep vs uniformly-slow reps separate one-time cost
    //        from sustained contention),
    //   t  — seconds since bench start at the query's first rep (correlate
    //        with external events, e.g. a driver process sharing the box),
    //   la — 1-min system load average sampled just before the first rep;
    //        values well above SPARK_GRAFT_CPUS mean co-tenant CPU load,
    //   h0/h1 — driver heap used (MB) before/after; gc — GC ms across the
    //        query's reps (heap pressure shows up here, not in medians),
    //   cf — ExtCaches relations BUILT during the reps (cache-fill work
    //        the query paid), sm — block-manager storage KB after (KB, not
    //        MB: sf0.001 smoke relations are sub-MB and would read 0),
    //   cg — generated classes COMPILED in each rep (one entry per `r`
    //        entry; Spark's CodegenMetrics compile count). A warm rep
    //        should read 0: a nonzero warm entry is a plan whose generated
    //        source differs from the previous rep's.
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val benchT0 = System.nanoTime()
    val startedMs = System.currentTimeMillis()
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def heapMb: Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) >> 20
    }
    // Metaspace in use: the generated classes the codegen cache holds.
    def metaspaceMb: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(_.getName == "Metaspace").map(_.getUsage.getUsed >> 20)
        .getOrElse(-1L)
    }
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    def storageKb: Long =
      try spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum >> 10
      catch { case _: Throwable => -1L }
    // Hypervisor CPU-steal jiffies (/proc/stat field 9) — the attribution
    // column the round-12 anomaly exposed: a virtualized box under bursty
    // steal shows LOW load average (the stolen threads are runnable, not
    // queued in the guest) while raw reps swing 5-40x, so la/gc/heap all
    // read clean and the record cannot attribute itself. Measured the day
    // it was added: a sweep with erratic reps (x51 37.5/41.0/4.0 s at la
    // 1.7, gc 0.8 s) ran in a window that accumulated ~770 s of steal
    // since boot; an idle-steal re-run returned every line to steady
    // state. -1 where /proc/stat is unavailable (non-Linux).
    def stealJiffies: Long =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        try f.getLines().next().trim.split("\\s+")(8).toLong
        finally f.close()
      } catch { case _: Throwable => -1L }
    // Fixed-work single-thread probes — the ABSOLUTE yardstick the r12
    // anomaly showed the record still lacked: with steal quiet, identical
    // cache-fill counts and flat gc, the PQ/ADC family (random in-heap
    // lookups, memory-bound) ran ~6x its committed times while trivial
    // scans ran ~1.25x — a noisy co-tenant can degrade MEMORY BANDWIDTH
    // in a way no counter above records. These two numbers let any two
    // records be compared on identical work: cpu = 2^28 dependent integer
    // multiply-adds (core throughput); mem = 2^24 dependent random reads
    // over a 256 MB array (DRAM/LLC latency under whatever pressure the
    // host is experiencing at record time).
    def cpuProbeS: Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < (1 << 28)) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    // Guarded: the probe array is 256 MB; on a small-heap driver the
    // allocation would OOM the bench (or force a full GC that pollutes the
    // very heap/gc numbers recorded alongside it). -1 = "not measured",
    // same convention as stealJiffies on non-Linux.
    def memProbeS: Double = {
      val n = 1 << 25
      val rt = Runtime.getRuntime
      val headroom = rt.maxMemory - (rt.totalMemory - rt.freeMemory)
      if (headroom < 3L * (n.toLong << 3)) return -1.0
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
      val t0 = System.nanoTime()
      var x = 0L; var j = 0
      while (j < (1 << 24)) { x = a(((x ^ (x >>> 13)) & (n - 1)).toInt) + x + j; j += 1 }
      if (x == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    /** Runs `body` once: its seconds and the classes it compiled. */
    def timedRep(body: => Unit): (Double, Long) = {
      val (c0, t0) = (compiles, System.nanoTime())
      body
      ((System.nanoTime() - t0) / 1e9, compiles - c0)
    }
    def measured(name: String)(reps: => Seq[(Double, Long)]): Seq[Double] = {
      val (h0, gc0, la, cf0, st0) =
        (heapMb, gcMs, loadAvg, graft.ext.ExtCaches.fillCount, stealJiffies)
      val t = (System.nanoTime() - benchT0) / 1e9
      val (times, cgs) = reps.unzip
      val stD = if (st0 < 0) -1L else stealJiffies - st0
      detail(name) =
        s"""{"r":[${times.map(fmt3).mkString(",")}],"t":${fmt3(t)},""" +
          s""""la":${fmt3(la)},"h0":$h0,"h1":$heapMb,"gc":${gcMs - gc0},""" +
          s""""cf":${graft.ext.ExtCaches.fillCount - cf0},"sm":$storageKb,""" +
          s""""cg":[${cgs.mkString(",")}],"st":$stD}"""
      times
    }

    def run(names: Seq[String], coldCaches: Boolean): Seq[(String, Double)] =
      names.map { name =>
        val times = measured(name) {
          (1 to reps).flatMap { rep =>
            if (coldCaches && rep == 1) graft.ext.ExtCaches.clearCaches()
            try Some(timedRep(SparkEntry.queries(name)(spark, sfDir).count()))
            catch {
              case e: Throwable =>
                errors += name
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
                None
            }
          }
        }
        name -> (if (times.isEmpty) 0.0 else median(times))
      }

    val all = SparkEntry.queries.keys.toSeq.sorted
    // Shared-cache builds are timed as their own lines, with the same
    // try/catch-and-record contract as every per-query rep: a failed build
    // must still emit the JSON line (the queries then pay their own cache
    // cost, which the per-query medians absorb).
    def timedBuild(name: String)(body: => Unit): (String, Double) =
      name -> measured(name) {
        Seq(timedRep(try body catch {
          case e: Throwable =>
            errors += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }))
      }.head
    // Family 1: the 26 reference-workload queries, shared caches prebuilt
    // and charged as their own line.
    val headline = timedBuild("shared_cache_build")(
      graft.queries.Chinook.warmCaches(spark, sfDir)) +:
      run(all.filter(Headline), coldCaches = false)
    // Family 2: engine extensions (s12+). The Chinook view cache is still
    // warm for s13's set-ops consumers — released after the family.
    val sExt = all.filterNot(Headline).filter(_.startsWith("s"))
    val extendedS = run(sExt, coldCaches = false)
    graft.ext.ExtCaches.clearCaches()
    // Family 3: LLM-pipeline extensions (x*), each self-contained: its
    // first rep pays its own cache build cold. The component-fixpoint
    // consumers are carved out into family 4.
    val ccShared = Set("x20_dup_clusters", "x23_dedup_survivors",
      "x26_pipeline_gate", "x26b_corpus_build", "x36_cluster_reps",
      "x53_cluster_split", "x68_cluster_size_hist")
    val starShared = Set("x20_dup_clusters_star")
    // Soak-cadence carve-out (round-15, closing the round-14 verdict's
    // #5): x107 is an intentionally adversarial oracle-replay stress
    // (depth-2 recursion over the planted corpus — its cost IS the
    // audit workload), and at sf0.1 its 42–116 s reps were the single
    // largest extended line and its dominant noise source. Pinning the
    // corpus was measured and rejected: the four recursion branches
    // coexist ONLY at n = 2000 (under-cap and exhaustion empty at every
    // smaller n across a coarse×cap×subCells grid — the merged-mode
    // geometry is hash-jumpy), so a cheaper corpus would bench a gate
    // with dead branches. It keeps its correctness gate at every SF and
    // its fresh-JVM decade rows in ScaleSoak (SCALING.md), which is
    // where a scaling-audit line belongs; the per-round bench drops it.
    val soakCadence = Set("x107_planted_fence_deep")
    // Family 5 carve-out (round 16, closing the round-15 verdict's #4):
    // the trained-index consumers share one coarse quantizer + one PQ
    // codebook chain (ExtAnnGates.sharedCellStats / sharedPqState — the
    // minhashDupLabels discipline), so like family 4 the training is built
    // ONCE, timed as its own ann_trained_build line, and the consumers
    // run warm; previously x88 re-trained the chain x76 had just paid
    // for, and the two trainings dominated the two largest extended
    // lines.
    val annShared = Set("x73_sim_topk_ivf_scaled", "x74_sim_topk_pq",
      "x75_sim_topk_pq_refined", "x76_sim_topk_ivf_pq",
      "x77_sim_topk_ivf_pq_residual", "x84_hybrid_rrf_ivf",
      "x88_hybrid_rrf_ivfpq",
      // round 16: the raw-corpus graph builders now consume the same
      // shared coarse quantizer (through ExtAnnGates.sharedIvfFront)
      "x89_knn_graph_ivf", "x91_knn_graph_ivf_recall",
      "x93_knn_graph_ivf_sq8", "x94_knn_graph_ivf_sq8_recall",
      "x101_knn_graph_residual")
    // Family 6 carve-out (round 16): the twin-corpus relevance gates
    // (x102/x103/x104) read one IVF front over the augmented corpus and
    // the planted-corpus gates (x97/x106) one over the planted corpus
    // (ExtGraphGates.twinIvfFront/plantedIvfFront, each probed against
    // its corpus's trained cells); the cells, fronts and x106's
    // sub-quantizer are built once, timed as graph_trained_build, and
    // the five consumers run warm — previously each gate re-trained
    // its corpus's quantizer per rep.
    val graphShared = Set("x97_planted_ivf_recall",
      "x102_graph_relevance_ivf", "x103_graph_relevance_sq8",
      "x104_graph_relevance_residual", "x106_planted_fence_residual",
      // x98 consumes the same twin-corpus anchors (its orphan guard
      // asserts the universe equality that makes them value-identical)
      "x98_retrieval_relevance")
    val xExt = all.filterNot(Headline).filterNot(_.startsWith("s"))
      .filterNot(ccShared).filterNot(starShared).filterNot(soakCadence)
      .filterNot(annShared).filterNot(graphShared)
    val extendedX = run(xExt, coldCaches = true)
    graft.ext.ExtCaches.clearCaches()
    // Family 4: the connected-component consumers. The eager fixpoints are
    // shared (one CC run serves x20/x23/x26/x36 — see minhashDupLabels), so
    // like family 1 they are built ONCE, timed as their own lines, and the
    // consumers run warm; previously the build cost hid in median-discarded
    // first reps and x20 read as free (round-4 verdict).
    val ccBuild = timedBuild("cc_fixpoint_build")(
      graft.queries.Extensions.warmCcLabels(spark, sfDir))
    val ccRuns = run(all.filter(ccShared), coldCaches = false)
    // Clear before the star sub-family: both fixpoints derive from the
    // SAME minhash pair graph, and the propagation build's persisted
    // shingle/signature/band relations would otherwise serve the star
    // build's pair generation from cache — cc_star_build must pay pair
    // generation cold to be comparable to cc_fixpoint_build.
    graft.ext.ExtCaches.clearCaches()
    val starBuild = timedBuild("cc_star_build")(
      graft.queries.Extensions.warmStarLabels(spark, sfDir))
    val starRuns = run(all.filter(starShared), coldCaches = false)
    graft.ext.ExtCaches.clearCaches()
    // Family 5: the trained-index consumers, anchors built once (see the
    // annShared carve-out note above).
    val annBuild = timedBuild("ann_trained_build")(
      graft.queries.Extensions.warmAnnShared(spark, sfDir))
    val annRuns = run(all.filter(annShared), coldCaches = false)
    graft.ext.ExtCaches.clearCaches()
    // Family 6: the twin-/planted-corpus trained-quantizer consumers
    // (see the graphShared carve-out note above).
    val graphBuild = timedBuild("graph_trained_build")(
      graft.queries.Extensions.warmGraphShared(spark, sfDir))
    val graphRuns = run(all.filter(graphShared), coldCaches = false)
    graft.ext.ExtCaches.clearCaches()

    val extended = extendedS ++ extendedX ++
      (ccBuild +: ccRuns) ++ (starBuild +: starRuns) ++
      (annBuild +: annRuns) ++ (graphBuild +: graphRuns)
    // Per-FAMILY subtotals for the printed line (round 17 — the r16
    // verdict's #2: the stdout JSON itemizes only the 27 headline lines,
    // so the driver's PERF comparison structurally cannot see the
    // extended surface where ~90 % of runtime lives; the full per-query
    // extended map never fits the ~1880-char stdout-tail parse window —
    // 146 entries ≈ 3.5 kB — but six stable family subtotals cost ~100
    // chars). Additions-only: a NEW top-level key, so every existing
    // key and the headline "queries" map (whose sum some consumer may
    // re-derive) are untouched. Full per-query extended numbers remain
    // in bench_detail.json (git-tracked).
    val extFamilies: Seq[(String, Double)] = Seq(
      "s_ext" -> extendedS, "x_self" -> extendedX,
      "cc" -> (ccBuild +: ccRuns), "star" -> (starBuild +: starRuns),
      "ann" -> (annBuild +: annRuns),
      "graph" -> (graphBuild +: graphRuns)
    ).map { case (k, rs) => k -> rs.map(_._2).sum }
    // The driver keeps only the LAST ~2000 chars of stdout and parses the
    // JSON line it finds there (BENCH_r03: a 2600-char line with 9-digit
    // seconds fell out of the window → "parsed": null). Keep the stdout
    // line compact — centisecond precision (run-to-run variance is ±30%,
    // so 10 ms resolution loses nothing), no whitespace — and write the
    // full-precision timings to bench_detail.json. That file is the
    // durable per-query record: it is git-TRACKED (not ignored), so the
    // round-close commit preserves the per-extension-query map that no
    // longer fits the stdout window (75+ extension entries ≈ 1.4 kB on
    // their own — every stdout candidate with the map overflows 1880).
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would render "12,34" — invalid JSON.
    // Centisecond precision with trailing zeros stripped ("0.20" → "0.2",
    // "0.00" → "0") — run-to-run variance is ±30%, so nothing real is lost,
    // and the ~70-entry map shrinks by dozens of chars.
    def fmtAt(decimals: Int)(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    val fmt = fmtAt(2) _
    def obj(rs: Seq[(String, Double)], f: Double => String): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val errs = errors.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(f: Double => String, extMap: Boolean, sfLabel: String,
        extF: Double => String = fmt): String =
      s"""{"metric":"total","value":${f(headline.map(_._2).sum)},"unit":"sec",""" +
        s""""reps":$reps,"queries":${obj(headline, f)},""" +
        (if (extMap) s""""extended":${obj(extended, extF)},""" else "") +
        s""""extended_families":${obj(extFamilies, fmtAt(1))},""" +
        s""""extended_total":${f(extended.map(_._2).sum)},"sf":"$sfLabel","errors":$errs}"""
    // bench_detail.json is JSONL: line 1 the full-precision summary (same
    // shape as the stdout line — historical diffs keep working), line 2 the
    // per-query attribution record (keys documented at `measured` above).
    // The second line is what makes an anomalous official record
    // self-explanatory: a tail query whose committed-record time was 1 s
    // but official time 6 s will show either a high `la` (co-tenant load),
    // a large `gc` (heap pressure), a `cf` delta (unexpected cache
    // rebuild), or a cold first element in `r` (one-time cost) — the
    // round-8 verdict's "nothing in the record says so" gap.
    // Sampling order (advisor, rounds 12+13): capture load/gc/steal FIRST,
    // then run the probes — memProbeS allocates 256 MB and cpuProbeS spins a
    // core for seconds, so sampling after them would record the probes' own
    // disturbance as if it were the host's.
    val (laEnd, gcEnd, stealEnd) = (loadAvg, gcMs, stealJiffies)
    val (probeCpu, probeMem) = (cpuProbeS, memProbeS)
    val detailLine =
      s"""{"record":"attribution","started_epoch_ms":$startedMs,""" +
        s""""heap_max_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
        s""""host_cpus":${Runtime.getRuntime.availableProcessors},""" +
        s""""load_avg_end":${fmt3(laEnd)},"gc_total_ms":$gcEnd,""" +
        s""""steal_end_jiffies":$stealEnd,""" +
        s""""probe_cpu_s":${fmt3(probeCpu)},"probe_mem_s":${fmt3(probeMem)},""" +
        s""""wall_s":${fmt3((System.nanoTime() - benchT0) / 1e9)},""" +
        s""""codegen_compiles":$compiles,"metaspace_mb":$metaspaceMb,""" +
        s""""queries":${detail.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")}}"""
    val out = new java.io.PrintWriter("bench_detail.json")
    try {
      out.println(line(_.toString, extMap = true, sfDir, _.toString))
      out.println(detailLine)
    } finally out.close()
    // Belt and braces: the driver parses the JSON line out of the LAST
    // ~2000 chars of stdout; minus sbt's ~80-char "[success] Total time: …"
    // trailer → 1880 is safe. Tiered fallback if the line ever outgrows the
    // window: shorten the sf dir to its basename, then decisecond precision
    // for the extended map (every per-query number still visible — strictly
    // better than losing the map), and only as a last resort drop the
    // extended map (its total survives). If even that overflows, fail
    // loudly: a line outside the window parses as null, silently.
    val base = new java.io.File(sfDir).getName
    val candidates = Seq(
      line(fmt, extMap = true, sfDir),
      line(fmt, extMap = true, base),
      line(fmt, extMap = true, base, fmtAt(1)),
      line(fmtAt(1), extMap = true, base, fmtAt(1)),
      line(fmt, extMap = false, sfDir))
    val fitting = candidates.find(_.length <= StdoutWindow)
    fitting.foreach(println)
    spark.stop()
    if (fitting.isEmpty) {
      System.err.println(s"[bench] stdout JSON line overflows the " +
        s"$StdoutWindow-char parse window: the last tier (no extended " +
        s"map) is ${candidates.last.length} chars; the full record is in " +
        "bench_detail.json")
      sys.exit(1)
    }
  }
}
