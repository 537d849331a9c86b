package graft.ext

import scala.collection.concurrent.TrieMap
import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.Success

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of shared state the operators and queries build from
  * lineage and reuse until released (the Shark model: a cached relation
  * is built once, then read by every consumer until it is dropped):
  *  - tracked persists ([[persistTracked]]) and the BPE loop's
  *    checkpoint block sets ([[checkpointTracked]]) — executor storage;
  *  - [[anchor]]s — session-keyed driver-side values built from those
  *    relations (trained quantizers, component labels, the reference
  *    workload's view aggregate), built once per cache epoch.
  *
  * [[clearCaches]] ends the epoch: it releases all storage and drops
  * every anchor, so the next use rebuilds from source. It is the only
  * release path; a long-lived session (or the bench harness between
  * query families) calls it to free executor storage memory.
  */
object ExtCaches {
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` and remember it for a later [[clearCaches]]. The
    * persist() runs outside the registry lock: it plans the query (the
    * cached relation takes its executed plan), and concurrent warm chains
    * would otherwise plan one at a time. */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist()
    synchronized {
      cached += p
      fills += 1
    }
    p
  }

  private var fills = 0L

  /** Monotone count of [[persistTracked]] calls since JVM start — never
    * reset by [[clearCaches]]. The bench harness reads the delta across a
    * query's reps to attribute time to cache-relation builds: a rep that
    * fills N relations is paying N materializations, and a query whose
    * official-record time inflated without a matching fill delta was slowed
    * by something OUTSIDE the operator (GC, co-tenant load) — the round-8
    * verdict's unattributed-tail gap this telemetry closes. */
  def fillCount: Long = synchronized(fills)

  /** [[persistTracked]] + an EAGER fill. For a persisted relation whose
    * SELF-JOIN dominates the operator: a lazily-cached relation is
    * filled during the join itself, and the join's two scans race —
    * concurrent tasks computing the same un-filled cache partition each
    * recompute it (the block store dedupes finished blocks, not
    * in-flight work). Round-7 soak: the df-capped shingle index (whose
    * only structural difference at cap ≥ max df is its eager fill) ran
    * 1.4x faster than the lazy uncapped twin at x30; adopting eager for
    * x02/x52/x38 reproduced the win (x02 13.6 → 9.7 s at x30).
    *
    * NOT a default: where the operator's cost lives in stages around
    * the join (x51's rarity window + verify tail, x03/x55's signature
    * build), eager fills SERIALIZE the big materializations ahead of
    * the join instead of overlapping with it and measured 2-4x SLOWER
    * at the largest soak scale (SCALING.md "Findings (round 7)") —
    * those operators keep
    * lazy persists, with the measurements at each call site. The
    * count() is outside the `synchronized` — it runs a Spark job and
    * must not hold the registry lock. */
  def persistEager(df: DataFrame): DataFrame = {
    val p = persistTracked(df)
    p.count()
    p
  }

  /** Unpersist ONE tracked relation early (blocking) and drop it from the
    * registry — for staging relations whose useful life ends as soon as a
    * derived persist materializes (e.g. winnowPairs' raw fingerprint
    * relation once the df-capped index is built): holding both doubles
    * the cached footprint of the pipeline's largest relation for the
    * whole session segment. */
  def releaseTracked(df: DataFrame): Unit = synchronized {
    val i = cached.indexWhere(_ eq df)
    if (i >= 0) {
      cached.remove(i)
      df.unpersist(blocking = true)
    }
  }

  /** Eager localCheckpoint with its blocks tracked for release at
    * [[clearCaches]] — the lineage discipline of an iterative loop whose
    * per-round state is itself a relation. Its one user is the BPE merge
    * loop in [[TextOps]]: each round's state is the distinct-word
    * relation (word, freq, symbols), which grows with the vocabulary. A
    * persist() is NOT enough there: the persisted round's ANALYZED plan
    * still contains the full previous-round tree, so the downstream plan
    * is a DAG that Catalyst's visitors traverse as a TREE — its plan grew
    * 2^k, 940 KB formatted at k = 6 (x110c, 11.8 s vs the 4-round char
    * twin's 1.7 s). Rooting each round at a LogicalRDD keeps the plan
    * O(1) per round. State that is |cells|-sized instead, like the
    * Lloyd/PQ trainers', is held on the driver (Similarity.centroidFold),
    * which keeps the plan flat with no storage at all. Counted in
    * [[fillCount]] like every other tracked materialization.
    *
    * HOLD-ACROSS-clearCaches HAZARD (deliberate, and different from
    * [[persistTracked]] and from driver-held anchors, which stay valid):
    * localCheckpoint TRUNCATES lineage, so once [[clearCaches]] releases
    * the blocks, a still-held BPE round or derivative CANNOT recompute —
    * its next action fails with a missing-block error, where a released
    * persist would silently (and expensively) recompute. Every registry
    * query constructs, runs, and dumps its result before any
    * clearCaches; a consumer that outlives a cache epoch re-invokes the
    * query function (retraining from source), not re-acts on the held
    * frame. */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    synchronized { fills += 1 }
    trackReleasable(() =>
      org.apache.spark.sql.graftfn.Lineage.release(cp, blocking = true))
    cp
  }

  private val releasables = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Track a release action for storage that is NOT a persisted DataFrame
    * (localCheckpoint block sets, etc.). Run and dropped by every
    * [[clearCaches]] — keeps the "storage is actually free when
    * clearCaches returns" contract for the checkpoint-based operators. */
  def trackReleasable(release: () => Unit): Unit = synchronized {
    releasables += release
  }

  /** A value built on first use. Its `lazy val` is the single-flight
    * guard: concurrent first callers wait on this holder's monitor while
    * one of them builds, and a build that throws leaves it unset, so the
    * next call builds again. */
  private final class Held(build: () => Any) {
    lazy val value: Any = build()
  }

  private val anchors = TrieMap.empty[(String, SparkSession, Any), Held]

  /** The value `build` returns for (`name`, `s`, `key`), built at most
    * once per cache epoch: every caller until the next [[clearCaches]]
    * gets the same value. `name` identifies the call site (one value
    * type per name); `key` is whatever else selects the value (a data
    * dir, a canonicalized plan). A losing racer on the map only discards
    * an unevaluated holder, and the build never runs under the registry
    * lock (builds run Spark jobs and call [[persistTracked]]), so an
    * anchor's build may use other anchors. */
  def anchor[V](name: String, s: SparkSession, key: Any)(build: => V): V =
    anchors.getOrElseUpdate((name, s, key), new Held(() => build))
      .value.asInstanceOf[V]

  /** How long [[warmChains]] waits for its chains: far above any warm
    * build this repo runs (seconds at sf0.1), so reaching it means a
    * chain is wedged, not slow. */
  val WarmDeadline: FiniteDuration = 30.minutes

  /** Run independent warm chains concurrently on the global execution
    * context and wait until EVERY chain has settled — a failure must not
    * hand the caller a session with a detached in-flight job. Throws the
    * first failing chain's error (in argument order) with the other
    * failures attached as suppressed; a chain still running at
    * [[WarmDeadline]] fails the call with an error naming it. Each Lloyd
    * / PQ chain is a string of tiny serial jobs that leaves most task
    * slots idle, so overlapping independent chains shortens the build. */
  def warmChains(chains: (String, () => Any)*): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    val running = chains.map { case (n, c) => n -> Future(c()) }
    try Await.ready(
      Future.traverse(running)(_._2.transform(Success(_))), WarmDeadline)
    catch {
      case _: TimeoutException =>
        throw new TimeoutException(s"warm chains still running after " +
          s"$WarmDeadline: ${running.filterNot(_._2.isCompleted)
            .map(_._1).mkString(", ")}")
    }
    val failures = running.flatMap(_._2.value.flatMap(_.failed.toOption))
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** End the cache epoch: unpersist every tracked relation and release
    * every checkpoint block set (blocking, so storage memory is actually
    * free when this returns — the bench harness relies on that), then
    * drop every anchor. */
  def clearCaches(): Unit = synchronized {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
    releasables.foreach(_.apply())
    releasables.clear()
    anchors.clear()
  }

  /** Number of currently tracked cached relations (for tests). */
  def trackedCount: Int = synchronized(cached.size)
}
