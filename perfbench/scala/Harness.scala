package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ext.ExtCaches
import graft.queries.{Chinook, Extensions}

/** One benchmark run of one workload in one JVM: warm-up, timed passes,
  * timed builds. Writes raw records to `<outDir>/result.json`; `run.py`
  * turns them into metrics and checks the dumped first results against
  * the DuckDB oracle. Every call into the program goes through a public
  * entry point (registry builders, warm/clear entry points, Dataset API),
  * so the program is measured as a user runs it.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *   <seed> <cores>
  */
object Harness {
  /** One workload: the ops of a pass and the shared state built for them. */
  final case class Workload(ops: Seq[String],
      build: (SparkSession, String) => Unit)

  // Each workload runs a fixed part of its registry family: a run must fit
  // its cold warm-up and several timed passes, whose median rejects a pass
  // hit by a burst of outside load, in the time a benchmark run is given
  // (README.md, "Sizing").

  /** Reference-report queries (graft.Bench.Headline): the consumers of
    * both shared Chinook caches (view aggregate: q09_top_brands,
    * q11_genre_rank; basket pairs: s04_affinity_brand), the heaviest star
    * join (s07_clv), the shuffle-heavy q06, two windowed rankings (q05,
    * q07), a churn roll-up (s05) and a one-row scan (q01_null). */
  val ReportOps: Seq[String] = Seq("q01_null", "q05_top_cust_per_country",
    "q06_top_part_per_cust", "q07_purchase_trends", "q09_top_brands",
    "q11_genre_rank", "s04_affinity_brand", "s05_regional_churn", "s07_clv")

  /** Trained-index consumers of the anchors `Extensions.warmAnnShared`
    * builds (graft.Bench's family 5), one per anchor: PQ ADC (PQ
    * codebooks), IVF-PQ (coarse cells and PQ codebooks), the IVF kNN graph
    * (coarse cells) and the residual kNN graph (residual PQ). */
  val AnnOps: Seq[String] = Seq("x74_sim_topk_pq", "x76_sim_topk_ivf_pq",
    "x89_knn_graph_ivf", "x101_knn_graph_residual")

  val workloads: Map[String, Workload] = Map(
    "report" -> Workload(ReportOps, (s, d) => Chinook.warmCaches(s, d)),
    "ann_serve" -> Workload(AnnOps, (s, d) => Extensions.warmAnnShared(s, d)))

  def clearAll(spark: SparkSession): Unit = {
    Chinook.clearCaches(spark)
    ExtCaches.clearCaches()
  }

  def main(args: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    val Array(wlName, dataDir, outDir, secondsS, traceS, seedS, coresS) = args
    val wl = workloads(wlName)
    val seconds = secondsS.toDouble
    val seed = seedS.toLong
    val cores = coresS.toInt

    val spark = GraftSession.local(coresS)
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val trace = if (traceS == "1") Some(new Trace) else None
    trace.foreach(t => sc.addSparkListener(t.listener))
    val tracer = trace.getOrElse(Trace.off)
    val reps = ArrayBuffer.empty[(Int, OpRec)]

    // Warm-up: build the shared state, then run every op once, spread over
    // one thread per core, so whole-stage codegen, the JVM's JIT and the
    // consumers' lazy per-op state are warm before anything is timed. These
    // are the first reps: their results are the ones checked against the
    // oracle.
    val warmId = tracer.nextId
    tracer.span("warmup", -1) {
      sc.setJobGroup("warmup", "warmup")
      tracer.span("warmup.build", warmId)(wl.build(spark, dataDir))
      val pool = Executors.newFixedThreadPool(cores)
      try wl.ops.map { op =>
        pool.submit(new java.util.concurrent.Callable[OpRec] {
          def call(): OpRec = {
            sc.setJobGroup("warmup", "warmup")
            runOp(spark, Trace.off, op, dataDir)
          }
        })
      }.foreach(f => reps += ((0, f.get())))
      finally pool.shutdown()
    }
    val setupS = (System.nanoTime() - mainT0) / 1e9

    // Timed passes: a closed loop, one op at a time, in a seeded order per
    // pass, until `seconds` have been measured.
    val passSecs = ArrayBuffer.empty[Double]
    var cacheMb = 0.0
    val timedT0 = System.nanoTime()
    while (passSecs.isEmpty || (System.nanoTime() - timedT0) / 1e9 < seconds) {
      val pass = passSecs.size + 1
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(wl.ops)
      val recs = order.map { op =>
        sc.setJobGroup(tracer.nextId.toString, op)
        runOp(spark, tracer, op, dataDir)
      }
      reps ++= recs.map(pass -> _)
      passSecs += recs.map(_.ms).sum / 1e3
      // After the first timed pass: the consumers' per-call persists stay
      // until the next clear, so later passes would make this depend on
      // how many passes fit in `seconds`.
      if (pass == 1) cacheMb = storageMb(sc)
    }

    // Timed builds: clear, then build the shared state, five times.
    val builds = (1 to 5).map { _ =>
      sc.setJobGroup(tracer.nextId.toString, "clear")
      val clearMs = tracer.span("clear", -1)(millis(clearAll(spark)))
      sc.setJobGroup(tracer.nextId.toString, "build")
      val buildMs = tracer.span("build", -1)(millis(wl.build(spark, dataDir)))
      (clearMs, buildMs, storageMb(sc))
    }
    trace.foreach(_.drain(sc))

    // Checks, untimed: each op's first result is dumped for the oracle,
    // and every later rep must repeat its digest.
    sc.setJobGroup("check", "check")
    val first = reps.filter(_._2.error.isEmpty).groupBy(_._2.op)
      .map { case (op, rs) => op -> rs.minBy(_._1)._2 }
    first.values.foreach { r =>
      spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
        .coalesce(1).write.parquet(s"$outDir/dump/${r.op}")
    }
    val oracle = SparkEntry.oracleSql
    val opRecs = reps.map { case (pass, r) =>
      Json.obj(
        "op" -> Json.str(r.op), "pass" -> pass.toString,
        "timed" -> (pass > 0).toString,
        "span" -> (if (pass > 0) r.spanId else -1).toString,
        "ms" -> Json.num(r.ms), "construct_ms" -> Json.num(r.constructMs),
        "plan_ms" -> Json.num(r.planMs), "collect_ms" -> Json.num(r.collectMs),
        "analysis_ms" -> r.phases.getOrElse("analysis", 0L).toString,
        "optimization_ms" -> r.phases.getOrElse("optimization", 0L).toString,
        "planning_ms" -> r.phases.getOrElse("planning", 0L).toString,
        "fills" -> r.fills.toString, "rows" -> r.rows.length.toString,
        "digest" -> Json.str(r.digest),
        "digest_ok" -> first.get(r.op).forall(_.digest == r.digest).toString,
        "error" -> Json.str(r.error))
    }
    val out =
      Json.obj(
        "workload" -> Json.str(wlName), "seed" -> seed.toString,
        "cores" -> cores.toString, "setup_s" -> Json.num(setupS),
        "builds" -> builds.map { case (c, b, st) =>
          Json.obj("clear_ms" -> Json.num(c), "build_ms" -> Json.num(b),
            "storage_mb" -> Json.num(st)) }.mkString("[", ",", "]"),
        "pass_s" -> passSecs.map(Json.num).mkString("[", ",", "]"),
        "cache_mb" -> Json.num(cacheMb), "rss_peak_mb" -> Json.num(rssPeakMb),
        "oracle" -> Json.obj(wl.ops.map(op => op -> Json.str(oracle(op))): _*),
        "ops" -> opRecs.mkString("[", ",", "]"),
        "trace" -> trace.map(_.json).getOrElse("null"))
    Files.writeString(Paths.get(s"$outDir/result.json"), out)
    spark.stop()
    System.exit(0)
  }

  final case class OpRec(op: String, spanId: Int, ms: Double, constructMs: Double,
      planMs: Double, collectMs: Double, phases: Map[String, Long],
      fills: Long, rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      digest: String, error: String)

  /** One op: construct the registry query, plan it, collect the full
    * result, each step in its own span. Never throws: an error is part of
    * the record. */
  def runOp(spark: SparkSession, tracer: Trace, op: String,
      dir: String): OpRec = {
    val fills0 = ExtCaches.fillCount
    var df: DataFrame = null
    var rows: Array[Row] = Array.empty
    var ms, constructMs, planMs, collectMs = 0.0
    var error = ""
    val spanId = tracer.nextId
    try {
      ms = tracer.span("op", -1, op) {
        millis {
          constructMs = tracer.span("construct", spanId, op)(
            millis { df = SparkEntry.queries(op)(spark, dir) })
          planMs = tracer.span("plan", spanId, op)(
            millis { df.queryExecution.executedPlan })
          collectMs = tracer.span("collect", spanId, op)(
            millis { rows = df.collect() })
        }
      }
    } catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}" }
    val phases =
      if (df == null) Map.empty[String, Long]
      else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val digest = f"${rows.length}%d:${scala.util.hashing.MurmurHash3
      .orderedHash(rows.iterator.map(_.hashCode))}%08x"
    OpRec(op, spanId, ms, constructMs, planMs, collectMs, phases,
      ExtCaches.fillCount - fills0, rows,
      if (df == null) null else df.schema, digest, error)
  }

  def millis(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Block-manager memory held by cached RDDs and checkpoints. */
  def storageMb(sc: org.apache.spark.SparkContext): Double =
    sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), Linux only. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }
}

/** Minimal JSON writing for the result record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Spans recorded around the benchmark's calls into each layer, plus the
  * scheduler events of a [[SparkListener]] keyed by job group. All kept in
  * memory and written out once, at the end of the run. */
class Trace {
  import Trace._
  private val spans = ArrayBuffer.empty[Span]
  private var ids = 0
  def nextId: Int = synchronized(ids)

  /** Time `body` as a span named `name` under `parent`. The span id is
    * allocated before `body` runs, so callers can tag jobs with it. */
  def span[A](name: String, parent: Int, op: String = "")(body: => A): A = {
    val id = synchronized { ids += 1; ids - 1 }
    val (s0, n0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      val dur = (System.nanoTime() - n0) / 1e6
      synchronized { spans += Span(id, name, parent, op, s0, dur) }
    }
  }

  private val jobs = ArrayBuffer.empty[String]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageAgg]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += Json.obj("job" -> e.jobId.toString, "time" -> e.time.toString,
        "group" -> Json.str(group(e.properties)),
        "stages" -> e.stageIds.mkString("[", ",", "]"))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        stages.getOrElseUpdate(i.stageId, new StageAgg(i.stageId)).group =
          group(e.properties)
        stages(i.stageId).time = i.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
      val info = e.taskInfo
      val m = e.taskMetrics
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        // Scheduler delay as the Spark UI defines it (AppStatusUtils).
        val duration = info.finishTime - info.launchTime
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        a.delayMs += math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  def json: String = synchronized {
    Json.obj(
      "spans" -> spans.sortBy(_.id).map(_.json).mkString("[", ",", "]"),
      "jobs" -> jobs.mkString("[", ",", "]"),
      "stages" -> stages.values.map(_.json).mkString("[", ",", "]"))
  }
}

object Trace {
  /** A tracer that records nothing: the untraced run's spans cost only the
    * closure call. */
  val off: Trace = new Trace {
    override def span[A](name: String, parent: Int, op: String)(body: => A): A = body
  }

  def group(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty("spark.jobGroup.id")).getOrElse("")

  final case class Span(id: Int, name: String, parent: Int, op: String,
      startMs: Long, durMs: Double) {
    def json: String = Json.obj("id" -> id.toString, "name" -> Json.str(name),
      "parent" -> parent.toString, "op" -> Json.str(op),
      "start" -> startMs.toString, "end" -> (startMs + math.ceil(durMs).toLong).toString,
      "ms" -> Json.num(durMs))
  }

  final class StageAgg(val id: Int) {
    var group = ""
    var time = 0L
    var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill,
      delayMs = 0L
    def json: String = Json.obj("stage" -> id.toString,
      "group" -> Json.str(group), "time" -> time.toString,
      "tasks" -> tasks.toString, "run_ms" -> runMs.toString,
      "cpu_ns" -> cpuNs.toString, "gc_ms" -> gcMs.toString,
      "shuffle_write" -> shuffleWrite.toString,
      "shuffle_read" -> shuffleRead.toString,
      "spill" -> spill.toString,
      "delay_ms" -> delayMs.toString)
  }
}
