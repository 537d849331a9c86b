package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.queries.{Chinook, Extensions}

/** Physical-plan assertions (SURVEY.md §4): the plans the engine is
  * designed around must actually materialize — filters reach the parquet
  * scan, dimension joins broadcast, rank-filters become WindowGroupLimit,
  * global top-k becomes TakeOrderedAndProject, and scans are
  * column-pruned. Run against the sf0.001 testdata (read-only). */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: country filter is pushed down to the nation parquet scan") {
    val p = formatted(Chinook.q02_top_parts_usa(spark, dir))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(n_name,NATION_0)"), p)
  }

  test("q02: small-dimension joins plan as BroadcastHashJoin") {
    val p = formatted(Chinook.q02_top_parts_usa(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q05: dense_rank <= k filter plans as WindowGroupLimit") {
    val p = formatted(Chinook.q05_top_cust_per_country(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q02: orderBy().limit() plans as TakeOrderedAndProject (no global sort)") {
    val p = formatted(Chinook.q02_top_parts_usa(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q04: orders scan is column-pruned to the referenced columns") {
    val p = formatted(Chinook.q04_rev_by_geo(spark, dir))
    val scanLine = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("o_custkey")).getOrElse("")
    assert(scanLine.contains("o_totalprice") && !scanLine.contains("o_orderpriority"),
      s"orders ReadSchema not pruned: $scanLine\n$p")
  }

  test("x06: custom dot-product expression is planned, with codegen stages") {
    val p = formatted(Extensions.x06_sim_topk_brute(spark, dir))
    assert(p.contains("dot_product_long"), p)
    // formatted mode tags codegen'd operators with "[codegen id : N]"
    assert(p.contains("[codegen id :"), p)
  }

  test("q12: recency anchor is a broadcast join, not a driver collect") {
    val p = formatted(Chinook.q12_inactive(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("x03: LSH candidate join is an equi-join (hash/merge), not a product") {
    val p = formatted(graft.ext.Dedup.minhashLshPairs(
      graft.tables.Tables.documents(spark, dir), "doc_id", "text"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x05: banded-LSH near-dup plans only equi-joins (no BNLJ, no product)") {
    val p = formatted(Extensions.x05_dedup_embedding(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x30/x32: per-group rank-filters plan as WindowGroupLimit (flooding group never materialized)") {
    val caps = formatted(Extensions.x30_source_caps(spark, dir))
    assert(caps.contains("WindowGroupLimit"), caps)
    val kw = formatted(Extensions.x32_doc_keywords(spark, dir))
    assert(kw.contains("WindowGroupLimit"), kw)
    // the df relation joins back BROADCAST — the corpus never shuffles
    // for the vocabulary lookup
    assert(kw.contains("BroadcastHashJoin"), kw)
  }

  test("x35: scrub is a pure scan projection (2-column read, count_matches rewrite, no shuffle before the output sort)") {
    // the shared test session has no GraftSession bootstrap — register the
    // optimizer rule the way GraftSession/GraftExtensions do (and restore)
    val prev = spark.experimental.extraOptimizations
    if (!prev.contains(org.apache.spark.sql.graftfn.CountMatchesRule))
      spark.experimental.extraOptimizations =
        prev :+ org.apache.spark.sql.graftfn.CountMatchesRule
    try {
      val p = formatted(Extensions.x35_blocklist_scrub(spark, dir))
      assert(p.contains("count_matches"), p) // CountMatchesRule fired
      assert(p.contains("struct<doc_id:bigint,text:string>"), p) // pruned scan
      // the only exchange is the output ordering's range partitioning —
      // no hash shuffle anywhere (pure scan-speed projection)
      assert(!p.contains("hashpartitioning"), p)
      assert(p.contains("rangepartitioning"), p)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("x37: snapshot CDC is one co-partitioned full-outer SMJ on the key") {
    val p = formatted(Extensions.x37_snapshot_cdc(spark, dir))
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s21: per-part recommendation top-3 plans as WindowGroupLimit") {
    val p = formatted(graft.queries.Chinook.s21_also_bought(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("x38: winnow pair mining is an equi-join over the fingerprint index (no product)") {
    val p = formatted(Extensions.x38_winnow_pairs(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("winnow_array"), p) // the JVM-loop expression, not the HOF chain
  }

  test("x33: base-index check is a LeftAnti equi-join; no sort anywhere (first-wins is a hash agg)") {
    val p = formatted(Extensions.x33_incremental_dedup(spark, dir))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // first-wins per digest must be an aggregate, not a window sort: the
    // only Sort allowed is the final presentation orderBy (top-level),
    // which AQE plans AFTER the anti-join. Assert no Window at all.
    assert(!p.contains("Window"), p)
  }

  test("x62: Ed-Join prefix rank plans as WindowGroupLimit; candidate + verify joins are equi (no product)") {
    val p = formatted(Extensions.x62_editdist_pairs(spark, dir))
    // the rnk <= k·q+1 filter over the rarity window must group-limit —
    // the full gram relation never sorts beyond the prefix
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x78: kNN-graph rank filter plans as WindowGroupLimit; candidate + fetch joins are equi (no product)") {
    val p = formatted(Extensions.x78_knn_graph(spark, dir))
    // per-node top-k must group-limit: no node's candidate list sorts
    // beyond k rows past the scorer
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    graft.ext.ExtCaches.clearCaches()
  }

  test("x89/x93: IVF graphs score pipelined (no wide exchange downstream of the cell join); rank group-limits; cell join equi") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec

    // The shuffle-width contract behind the 3-15x soak win (round 11),
    // scoped to what it actually claims (round-11 advice): arrays ride
    // ONLY in the small pre-join inputs (members: n rows, probes:
    // n·nprobe rows — those MAY shuffle their 64-long vectors at
    // production scale, they ARE the data); the candidate/shortlist/rank
    // exchanges DOWNSTREAM of the cell join carry 24-byte rows, never an
    // array. Pinning "no array on any exchange" only held because the
    // pre-join attach joins broadcast at test scale — so disable
    // broadcast and assert the scoped contract on the shuffle-join plan.
    def unwrapAqe(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrapAqe(a.executedPlan)
      case other                    => other
    }
    def isCellJoin(p: SparkPlan): Boolean = p match {
      case j: BaseJoinExec =>
        j.leftKeys.exists(_.references.exists(_.name == "cell"))
      case _ => false
    }
    // Path from the root down to the first cell join, inclusive.
    def pathToCellJoin(p: SparkPlan): Option[List[SparkPlan]] =
      if (isCellJoin(p)) Some(List(p))
      else p.children.view.flatMap(pathToCellJoin).headOption.map(p :: _)
    def hasArray(e: ShuffleExchangeExec): Boolean =
      e.output.exists(_.dataType.typeName.startsWith("array"))

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq(Extensions.x89_knn_graph_ivf _,
          Extensions.x93_knn_graph_ivf_sq8 _)) {
        val df = q(spark, dir)
        val p = formatted(df)
        assert(p.contains("WindowGroupLimit"), p)
        // anchors (packed centroids, the Lloyd state, SQ8 scales) are the
        // only BNLJs; the member×prober relation itself is a cell EQUI-join
        assert(!p.contains("CartesianProduct"), p)
        val plan = unwrapAqe(df.queryExecution.executedPlan)
        val path = pathToCellJoin(plan)
        assert(path.nonEmpty, s"no cell equi-join found in plan:\n$plan")
        // The contract, stated on the plan: walking UP from the cell
        // join, the (nprobe/cells)·n² candidate rows must hit a
        // WindowGroupLimit BEFORE any exchange (they exist only
        // pipelined inside codegen), and the first exchange they do
        // reach carries the limited narrow rank rows — never an array.
        // Exchanges further up (x93's exact re-rank re-attaches vectors
        // to the ≤ n·shortlist survivors) are the same bounded class as
        // the pre-join attach inputs and MAY carry arrays at scale.
        import org.apache.spark.sql.execution.window.WindowGroupLimitExec
        val upward = path.get.reverse // cell join first, then toward root
        val firstExIdx = upward.indexWhere(_.isInstanceOf[ShuffleExchangeExec])
        assert(firstExIdx >= 0, s"no rank exchange above the cell join:\n$plan")
        assert(upward.take(firstExIdx).exists(_.isInstanceOf[WindowGroupLimitExec]),
          s"candidate rows reach an exchange before any group limit:\n$plan")
        val firstEx = upward(firstExIdx).asInstanceOf[ShuffleExchangeExec]
        assert(!hasArray(firstEx),
          s"the first post-limit rank exchange carries array columns:\n$firstEx")
        // …and the scoped assertion is not vacuous: with broadcast off,
        // the pre-join attach joins DO shuffle the vector/code arrays
        // below the cell join — the documented scale caveat, in-plan.
        val below = path.get.last.collect {
          case e: ShuffleExchangeExec if hasArray(e) => e
        }
        assert(below.nonEmpty,
          s"expected the pre-join inputs to shuffle arrays under " +
            s"autoBroadcastJoinThreshold=-1; plan shape drifted:\n$plan")
        graft.ext.ExtCaches.clearCaches()
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("x63/x69/x70: SQ8 search is a bucket/cell equi-join; the only BNLJs are the 1-row scales/centroid anchors") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    for (q <- Seq(Extensions.x63_sim_topk_ivfsq8 _,
        Extensions.x69_sim_topk_multiprobe _,
        Extensions.x70_sim_topk_ivfkm _,
        Extensions.x73_sim_topk_ivf_scaled _,
        Extensions.x74_sim_topk_pq _,
        Extensions.x75_sim_topk_pq_refined _,
        Extensions.x76_sim_topk_ivf_pq _,
        Extensions.x77_sim_topk_ivf_pq_residual _)) {
      val plan = q(spark, dir).queryExecution.sparkPlan
      val bnljs = plan.collect { case b: BroadcastNestedLoopJoinExec => b }
      bnljs.foreach { b =>
        val build = b.buildSide match {
          case BuildLeft => b.left
          case _         => b.right
        }
        assert(build.exists {
          case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
          case _                      => false
        }, s"non-anchor BNLJ in SQ8 plan: $b")
      }
      val p = plan.toString
      assert(p.contains("BroadcastHashJoin"), p) // the bucket probe join
      assert(!p.contains("CartesianProduct"), p)
      graft.ext.ExtCaches.clearCaches()
    }
  }

  test("x67: the length gate's only sort is the source-keyed rank window + presentation orderBy") {
    val p = formatted(Extensions.x67_length_gate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p) // |sources|-row count table broadcast
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x28: decontamination joins the corpus to a BROADCAST eval vocabulary (semi), never corpus×corpus") {
    val p = formatted(Extensions.x28_decontamination(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x45: bloom probe rides in as a scalar subquery ABOVE the semi-join (prune precedes confirm)") {
    val p = formatted(Extensions.x45_decontamination_bloom(spark, dir))
    // the explicit BloomPrune probe (not optimizer-injected — that path
    // is covered by the runtime-filter test below)
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one exact confirm join, and the bloom builds in its own
    // subquery section (the probe filter hosts it on the corpus side,
    // below the join — visible as "Hosting operator" in the main tree)
    assert("Join type: LeftSemi".r.findAllIn(p).size == 1, p)
    assert(p.contains("===== Subqueries ====="), p)
    assert(p.contains("bloom_filter_agg"), p)
    graft.ext.ExtCaches.clearCaches()
  }

  test("x46: bigram top-k plans as partial-agg + TakeOrderedAndProject (no global sort)") {
    val p = formatted(Extensions.x46_bigram_counts(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    // partial counts combine before the exchange: two HashAggregates
    // around one shuffle — the shuffle carries pair keys, not occurrences
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x47: gram matrix plans as partial+final object aggregate; explode only AFTER the aggregate") {
    val p = formatted(Extensions.x47_embedding_gram(spark, dir))
    // TypedImperativeAggregate → ObjectHashAggregate, partial + final:
    // the scan side ships one fixed-size triangle per partition, never
    // exploded rows
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("gram_matrix"), p)
    // the single Generate (explode of the 2080-cell result) must sit
    // ABOVE the aggregate. Formatted-mode node ids number bottom-up
    // (Scan is (1)), so "above" = a strictly larger id than every
    // aggregate node's.
    val genIds = """Generate \((\d+)\)""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    val aggIds = """ObjectHashAggregate \((\d+)\)""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(genIds.nonEmpty && aggIds.nonEmpty, p)
    assert(genIds.min > aggIds.max,
      s"explode below the aggregate: generate=$genIds agg=$aggIds\n$p")
  }

  test("x44: packing window partitions by shard and the scan reads only (doc_id, text)") {
    val p = formatted(Extensions.x44_sequence_packing(spark, dir))
    // partitioned window — the fleet gate would reject an unpartitioned
    // one; this pins the partition KEY so a refactor can't silently
    // repartition by something non-shard
    assert(p.contains("windowspecdefinition(shard#"), p)
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text"), scanLine)
    assert(!scanLine.contains("lang") && !scanLine.contains("source"), scanLine)
  }

  // Runtime bloom-filter join pruning (InjectRuntimeFilter) is ON by
  // default in Spark 4 — at cluster scale a selective dim filter
  // automatically plants a bloom filter on the fact-scan side of a
  // shuffle join, pruning shuffle input before the exchange. The size
  // thresholds that gate it (creation side ≤ 10 MB, application side
  // ≥ 10 GB scan) are tuned for real tables, so at testdata scale the
  // rule never fires on its own; this test widens the thresholds to
  // prove the engine's plans are shaped so the rule CAN fire — an
  // equi-join with a selective creation side and no broadcast.
  test("selective dim filter injects a runtime bloom filter on the fact side") {
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.tables.Tables.lineitem(spark, dir)
      val brand = graft.tables.Tables.part(spark, dir)
        .filter(col("p_brand") === "Brand#12")
      val plan = li.join(brand, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type")).count()
        .queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter_agg"), plan)
      assert(plan.contains("might_contain"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // AQE skew-join splitting (OptimizeSkewedJoin) is the join-side twin of
  // x19's salted aggregation: when one shuffle partition of a sort-merge
  // join dwarfs the median (hot key), AQE splits it into advisory-size
  // chunks and replicates the matching build rows. The byte thresholds
  // that gate it (256 MB partition, 64 MB advisory) are tuned for real
  // clusters, so at testdata scale the rule never fires on its own; this
  // test tightens them to prove x29's plan is shaped so the rule CAN fire
  // — a shuffled SMJ (merge hint, no broadcast) with a hot key — and that
  // the split is semantically invisible (same rows as the default run).
  test("x29: hot-key join splits under AQE skew handling (skew=true) with identical results") {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      // Coalescing first would merge the tiny test partitions back below
      // the threshold; a real cluster sets these by data volume.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // The suite default of 2 shuffle partitions makes skew detection
      // vacuous: Spark's median of a 2-element size list is the LARGER
      // one, so no partition can ever exceed it. 16 gives a real median.
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val baseline = Extensions.x29_skew_join(spark, "/root/testdata/sf0.01").collect()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = Extensions.x29_skew_join(spark, "/root/testdata/sf0.01")
      val rows = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
      assert(rows.toSeq == baseline.toSeq,
        s"skew-split run diverged:\n${rows.toSeq}\nvs\n${baseline.toSeq}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ---- fleet-wide gate ------------------------------------------------
  //
  // Every claim of "this is the plan you'd want at 100×" becomes a test:
  // across ALL SparkEntry queries, the initial physical plan (including
  // subquery plans) must contain
  //   - no CartesianProductExec, ever;
  //   - no BroadcastNestedLoopJoinExec, UNLESS its broadcast side is a
  //     global (ungrouped) aggregate — the 1-row scalar-subquery anchor
  //     pattern (q08/q12/s06/s07 recency and ratio anchors), which is
  //     bounded by construction — or the query is whitelisted;
  //   - no ungrouped WindowExec whose input has not already been reduced
  //     by a grouped aggregate or a limit (an unpartitioned window over a
  //     raw relation single-tasks the whole dataset at scale).
  test("fleet gate: no cartesian-class join or unpartitioned raw window in any query plan") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec

    // x06 brute-force top-k is the documented non-equi baseline: the
    // corpus-scan join against the broadcast query set is its semantics.
    // x71's ground-truth arm IS that baseline (the exact full-corpus
    // top-k every coarse quantizer is audited against); its three ANN
    // arms stay equi-joins, pinned by the x63/x69/x70 plan test.
    // x79's dense arm is that same baseline by reference (the fusion
    // consumes only ranks, so a deployment swaps in an IVF arm without
    // touching the fusion — Retrieval.hybridRrfTopK Scaladoc); x87 is
    // x79 with only the LEXICAL arm changed (idf weights), so it carries
    // the same brute dense arm and the same rationale — x84/x88 are the
    // exemption-free trained-arm forms.
    // x85/x91/x94 are the kNN-graph RECALL AUDITS: their exact arm is by
    // definition the x06 brute pass with every (or a sampled) node as a
    // query — the audit's denominator cannot avoid the non-equi scan,
    // and its scale knob is the node sample, not the join shape. (x89
    // and x93, the IVF graphs under the x91/x94 audits, are themselves
    // pure equi-joins and carry NO exemption.) x94 is listed explicitly
    // (round-11 advice): without it the gate passed only when x94 was
    // planned after x85/x91 in the sweep (cache substitution of the
    // persisted exact relation) — an ordering accident, not a contract.
    // x98 carries the brute dense arm in two of its four configurations
    // (the positive-control exact rank every compressed arm's hit@k is
    // read against) — the same x06-baseline rationale as x79/x87; its
    // sq8/pq arms stay pure equi-joins.
    val bnljWhitelist =
      Set("x06_sim_topk_brute", "x71_ivf_recall", "x79_hybrid_rrf",
        "x87_hybrid_rrf_bm25", "x85_knn_graph_recall",
        "x91_knn_graph_ivf_recall", "x94_knn_graph_ivf_sq8_recall",
        "x96_planted_knn_recall", "x97_planted_ivf_recall",
        "x98_retrieval_relevance")

    def isOneRowAnchor(b: BroadcastNestedLoopJoinExec): Boolean = {
      val build = b.buildSide match {
        case BuildLeft => b.left
        case _         => b.right
      }
      build.exists {
        case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
        case _                      => false
      }
    }

    def isReduced(plan: SparkPlan): Boolean = plan.exists {
      case agg: BaseAggregateExec => agg.groupingExpressions.nonEmpty
      case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }

    // Every physical tree reachable from `p`, including subquery plans.
    // At the sparkPlan stage (pre-preparation) a scalar subquery still
    // holds a LOGICAL plan — PlanSubqueries only rewrites it during
    // executedPlan preparation — so collectWithSubqueries' blind cast to
    // SparkPlan blows up (x45's bloom subquery). Plan those through the
    // session and gate the result like any other tree.
    def physicalTrees(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      import org.apache.spark.sql.catalyst.expressions.PlanExpression
      import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
      val subPlans = p.collect { case node =>
        node.expressions.flatMap(_.collect { case e: PlanExpression[_] => e.plan })
      }.flatten
      p +: subPlans.flatMap {
        case sp: org.apache.spark.sql.execution.SparkPlan => physicalTrees(sp)
        case lp: LogicalPlan =>
          physicalTrees(spark.sessionState.executePlan(lp).sparkPlan)
        case _ => Nil
      }
    }

    // The true-streaming twins execute a full streaming job at
    // CONSTRUCTION time (symlink staging, micro-batches, foreachBatch
    // sink) and return a trivial read-back plan — gating that plan
    // asserts nothing about the streaming query while paying its whole
    // execution. Their plan-shape guarantees live in the batch twins
    // (same transform fn) and StreamingSpec.
    val eagerStreamTwins =
      Set("x12_events_tumbling_stream", "x13_events_sessions_stream",
        "x65_stream_dedup_replay", "x55_incremental_lsh_stream",
        "x82_incremental_knn_stream")

    // Plan-SIZE ceiling (round-10 lesson — the Lloyd-chain explosion):
    // chained iterative constructions can leave plan DAGs that render —
    // and are TRAVERSED by Catalyst's visitors — as exponentially large
    // trees (x77 pre-fix: 166k lines / 8,145 InMemoryTableScans for one
    // relation, ~3 s of driver plan work per action). Post-fix the
    // fleet's largest rendered plan sits well under 20k lines; the
    // ceiling catches any operator that re-grows one.
    val maxPlanLines = 50000

    val violations = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => eagerStreamTwins.contains(name) }
      .flatMap { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.sparkPlan
      val planLines = plan.toString.linesIterator.length
      val sizeViolation =
        if (planLines <= maxPlanLines) Nil
        else Seq(s"$name: rendered plan is $planLines lines (> $maxPlanLines) " +
          "— an iterative construction is chaining lineage again; hold " +
          "small per-round state on the driver (Similarity.centroidFold) " +
          "or truncate a large one (ExtCaches.checkpointTracked)")
      sizeViolation ++ physicalTrees(plan).flatMap(_.collect {
        case c: CartesianProductExec =>
          Some(s"$name: CartesianProduct\n${c.simpleStringWithNodeId()}")
        case b: BroadcastNestedLoopJoinExec
            if !bnljWhitelist.contains(name) && !isOneRowAnchor(b) =>
          Some(s"$name: non-anchor BroadcastNestedLoopJoin\n${b.simpleStringWithNodeId()}")
        case w: WindowExec if w.partitionSpec.isEmpty && !isReduced(w.child) =>
          Some(s"$name: unpartitioned WindowExec over un-reduced input\n${w.simpleStringWithNodeId()}")
      }.flatten)
    }
    graft.queries.Chinook.clearCaches(spark)
    graft.ext.ExtCaches.clearCaches()
    assert(violations.isEmpty, violations.mkString("\n\n"))
  }

  // Negative control: the gate's node matcher must actually fire on the
  // shapes it polices — otherwise the fleet gate could pass vacuously.
  test("fleet gate detector catches a deliberate cartesian-class join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5, 6).toDF("y")
    val cross = a.crossJoin(b).queryExecution.sparkPlan
    val nonEqui = a.join(b, $"x" < $"y").queryExecution.sparkPlan
    assert(cross.exists {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }, cross.toString)
    assert(nonEqui.exists {
      case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }, nonEqui.toString)
  }
}
