package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.ext.ExtCaches
import graft.ops.{Exact, PairMining, Quality, TopK}
import graft.tables.Tables

/** The reference workload (SURVEY.md §2.12), re-expressed Spark-first over
  * the driver testdata star schema. Semantic transliteration (SURVEY §7.2 /
  * FIXTURES.md §3): country := nation.n_name, invoice := orders,
  * invoice_line := lineitem, track := part.p_name, genre := part.p_type,
  * artist/album := part.p_brand / p_name, "USA" := 'NATION_0'.
  *
  * Date-math conventions (fixed on BOTH the Spark and DuckDB-oracle side,
  * avoiding the MySQL TIMESTAMPDIFF(MONTH) parity trap — SURVEY §5.3):
  * churn cutoff = last purchase > 183 days before the dataset max date
  * (the reference's "6 months", SQL_file.sql:142); inactivity = 91 days
  * (the reference's "3 months", SQL_file.sql:238); old/new cohort split =
  * first purchase year <= 1995 (the reference's <=2017, SQL_file.sql:318).
  *
  * Every query is a pure (SparkSession, sfDir) => DataFrame with a total
  * deterministic ORDER BY, exact decimal aggregation (graft.ops.Exact) and
  * explicit tiebreaks in every window — so the driver's hash-compare
  * against DuckDB is bit-stable.
  */
object Chinook {
  val USA = "NATION_0"
  val CHURN_DAYS = 183
  val INACTIVE_DAYS = 91
  val OLD_COHORT_MAX_YEAR = 1995

  import Exact._

  // ---- shared sub-plans (the reference's view / common CTEs) ------------

  /** customer enriched with country (customer ⋈ nation; nation is 25 rows —
    * always broadcast, at any scale). */
  private def custCountry(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).join(
      broadcast(Tables.nation(s, dir)),
      col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name").as("country"),
        col("c_mktsegment"))

  /** orders ⋈ customer ⋈ nation — the invoice-with-billing-country analog. */
  private def ordersCountry(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).join(custCountry(s, dir),
      col("o_custkey") === col("c_custkey"))

  /** Full star: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ part (the
    * reference's 5-way join, SQL_file.sql:32–42). part is a real dimension
    * (unbounded at 100 TB) so we do NOT force-broadcast it — Catalyst/AQE
    * picks broadcast at test scale and shuffled hash at cluster scale. */
  private def salesStar(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))

  /** Per-customer last purchase + days since, anchored on the global max
    * order date (the reference's scalar-subquery "now", SQL_file.sql:142).
    * The 1-row anchor is cross-joined broadcast — no driver-side collect. */
  private def custRecency(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val last = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_dt"),
        count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("monetary_dec"))
    val anchor = o.agg(max(col("o_orderdate")).as("max_dt"))
    last.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(to_date(col("max_dt")), to_date(col("last_dt"))).cast(LongType))
  }

  /** The reference's CREATE VIEW usa_genre_sales (SQL_file.sql:148–165):
    * per-genre USA revenue, % of USA total, revenue rank. Consumed by
    * q09_genre_sales / q09_top_brands / q11_genre_rank / s01.
    *
    * The reference creates the view once and reads it four times; MySQL
    * re-materializes it per consumer (SURVEY §3.1). We do one better and
    * persist the 6-row aggregated result once — the four consumers then
    * reuse it instead of re-running the star join + agg. At 100 TB the
    * cached relation is still |genres| rows — caching the *aggregate*,
    * never the base data, is the scale-safe choice. */
  def usaGenreSales(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("usaGenreSales", s, dir)(
      ExtCaches.persistTracked(usaGenreSalesPlan(s, dir)))

  private def usaGenreSalesPlan(s: SparkSession, dir: String): DataFrame = {
    val usa = salesStar(s, dir).filter(col("n_name") === USA)
    val byGenre = usa.groupBy(col("p_type").as("genre"))
      .agg(sumRevenue.as("rev_dec"))
    // ONE star-join pass: the grand total is a window aggregate over the
    // already-aggregated |genres|-row relation. The previous
    // crossJoin(broadcast(byGenre.agg(...))) form re-ran the whole star
    // join for the 1-row total — DataFrame plans have no common-subplan
    // reuse, so byGenre appeared (and executed) twice. An unpartitioned
    // window on ≤|genres| rows is the scale-safe form (same argument as
    // the rnk window below).
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byGenre
      .withColumn("tot_dec", sum(col("rev_dec")).over(wAll))
      .select(
        col("genre"),
        col("rev_dec").cast(DoubleType).as("total_revenue"),
        round(col("rev_dec").cast(DoubleType) * 100.0 /
          col("tot_dec").cast(DoubleType), 4).as("pct_of_total"))
      .withColumn("rnk",
        rank().over(Window.orderBy(desc("total_revenue"), col("genre")))
          .cast(LongType))
  }

  private val usaGenreSalesSql: String =
    s"""WITH g AS (
       |  SELECT p_type AS genre,
       |         SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS rev_dec
       |  FROM lineitem
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation   ON c_nationkey = n_nationkey
       |  JOIN part     ON l_partkey = p_partkey
       |  WHERE n_name = '$USA'
       |  GROUP BY 1),
       |t AS (SELECT SUM(rev_dec) AS tot_dec FROM g)
       |SELECT genre,
       |       CAST(rev_dec AS DOUBLE) AS total_revenue,
       |       ROUND(CAST(rev_dec AS DOUBLE) * 100.0 / CAST(tot_dec AS DOUBLE), 4) AS pct_of_total,
       |       CAST(rank() OVER (ORDER BY CAST(rev_dec AS DOUBLE) DESC, genre) AS BIGINT) AS rnk
       |FROM g, t""".stripMargin

  // ---- q01: data-quality probes (SQL_file.sql:4–22) ---------------------

  def q01_dup(s: SparkSession, dir: String): DataFrame =
    Quality.duplicates(Tables.orders(s, dir), Seq("o_orderkey"))
      .orderBy(col("o_orderkey"))

  def q01_null(s: SparkSession, dir: String): DataFrame =
    Quality.anyNullCount(Tables.orders(s, dir),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))

  // ---- q02: top-5 tracks in USA (SQL_file.sql:25–46) --------------------

  def q02_top_parts_usa(s: SparkSession, dir: String): DataFrame = {
    val agg = salesStar(s, dir).filter(col("n_name") === USA)
      .groupBy(col("p_name").as("track"), col("p_brand").as("artist"),
        col("p_type").as("genre"))
      .agg(sum(money(col("l_quantity"))).cast(DoubleType).as("total_qty"),
        sumRevenueD.as("total_revenue"))
    TopK.globalTopK(agg,
      Seq(desc("total_revenue"), desc("total_qty"), col("track")), 5)
      .orderBy(col("rnk"))
  }

  // ---- q03: customer demographics (SQL_file.sql:50–57) ------------------

  def q03_demographics(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
    c.groupBy(col("r_name").as("region"), col("n_name").as("country"),
        coalesce(col("c_mktsegment"), lit("N/A")).as("segment"))
      .agg(count(lit(1)).as("total_customers"))
      .orderBy(desc("total_customers"), col("region"), col("country"), col("segment"))
  }

  // ---- q04: revenue by geography (SQL_file.sql:60–68) -------------------

  def q04_rev_by_geo(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("country"))
      .agg(count(lit(1)).as("total_invoices"),
        sumMoneyD(col("o_totalprice")).as("total_revenue"))
      .orderBy(desc("total_revenue"), col("country"))

  // ---- q05: top-5 customers per country (SQL_file.sql:71–89) ------------

  def q05_top_cust_per_country(s: SparkSession, dir: String): DataFrame = {
    val spend = ordersCountry(s, dir)
      .groupBy(col("country"), col("c_custkey"), col("c_name").as("customer"))
      .agg(sumMoneyD(col("o_totalprice")).as("total_spent"))
    TopK.perGroupDense(spend, Seq(col("country")),
        Seq(desc("total_spent"), col("c_custkey")), 5)
      .orderBy(col("country"), col("rnk"), col("c_custkey"))
  }

  // ---- q06: best-selling part per customer (SQL_file.sql:92–114) --------

  def q06_top_part_per_cust(s: SparkSession, dir: String): DataFrame = {
    // Aggregate on integer keys only (revenue needs no part columns), pick
    // the argmax, and keep one row per customer BEFORE joining dimensions:
    // the part and customer joins then see |customers| rows, not
    // |customer×part| rows. p_name is functionally dependent on p_partkey,
    // so grouping by the key alone is semantically identical to the
    // reference's 3-column group.
    // ONE deliberate exchange, on the GROUP keys before the aggregate:
    // (custkey, partkey) pairs are near-unique per order line (~1 row per
    // group at every SF — a property of the key set, not the scale), so
    // the map-side combine would hash 600k rows into 550k groups for zero
    // reduction; shuffling raw pre-agg rows once and aggregating in
    // parallel replaces the most expensive serial stage of the query
    // (sf0.1: 2.1 s → 0.9 s for the aggregate). It also restores
    // parallelism after the (possibly broadcast) orders join, so the
    // starved single-row-group lineitem scan never serializes the
    // aggregate.
    //
    // An explicit l_orderkey repartition used to precede the join too.
    // Round-7 idle A/B (sf0.1, median-of-5; PLANS.md "Note: the round-6
    // q06 driver line" holds the full sweep and its round-8 re-run):
    // both exchanges 1.57 s vs group-key-only 1.64 s — equal within the
    // run-to-run noise — while no-explicit-exchange is 2.44 s. The extra
    // full-data shuffle bought nothing at idle and was the prime suspect
    // for q06's 5.83 s line in the contended round-6 driver bench (the
    // only headline query with two full-data exchanges; q05 got FASTER in
    // the same run). Dropped: the join plans its own exchange when orders
    // outgrows the broadcast threshold (the 100 TB case), and one less
    // shuffle is strictly less exposure when the machine is busy.
    val agg = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .repartition(col("o_custkey"), col("l_partkey"))
      .groupBy(col("o_custkey"), col("l_partkey"))
      .agg(sumRevenueD.as("revenue"))
    // Sort-free per-group argmax: max_by over the total-ordered key struct
    // (revenue, −partkey) — max revenue, ties to the SMALLEST partkey,
    // exactly the (revenue DESC, partkey ASC) rank order — turns the
    // rank-filter window (a per-partition sort) into one hash aggregate
    // with map-side-combining partials: 5× faster at sf0.1 and the shape
    // that scales, since no sort ever materializes. The rank-filter /
    // WindowGroupLimit form stays in TopK.perGroupFirst for consumers
    // that need the ranked prefix rather than just the argmax (q05, s01,
    // s02 keep it, and PlanSpec pins q05's WindowGroupLimit).
    val top = agg.groupBy(col("o_custkey"))
      .agg(max_by(
        struct(col("l_partkey"), col("revenue")),
        struct(col("revenue"), (-col("l_partkey")).as("nk"))).as("top"))
      .select(col("o_custkey"), col("top.l_partkey"), col("top.revenue"))
    top
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .join(custCountry(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name").as("customer"),
        col("p_name").as("track"), col("p_partkey"), col("revenue"))
      .orderBy(col("c_custkey"))
  }

  // ---- q07: purchase trends — inter-purchase gap + AOV (:117–133) -------

  def q07_purchase_trends(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val seq = Tables.orders(s, dir)
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap", datediff(to_date(col("o_orderdate")), to_date(col("prev"))))
    seq.groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        ratio(sum(col("gap").cast(LongType)), count(col("gap"))).as("avg_gap_days"),
        ratio(sumMoney(col("o_totalprice")), count(lit(1))).as("avg_order_value"))
      .orderBy(col("c_custkey"))
  }

  // ---- q08: global churn rate (SQL_file.sql:136–144) --------------------

  def q08_churn_rate(s: SparkSession, dir: String): DataFrame =
    custRecency(s, dir).agg(
      count(lit(1)).as("total_customers"),
      sum(when(col("recency_days") > CHURN_DAYS, 1L).otherwise(0L)).as("churned"),
      round(ratio(
        sum(when(col("recency_days") > CHURN_DAYS, 1L).otherwise(0L)) * 100.0,
        count(lit(1))), 2).as("churn_rate"))

  // ---- q09/q11: the usa_genre_sales view + consumers (:148–222) ---------

  def q09_genre_sales(s: SparkSession, dir: String): DataFrame =
    usaGenreSales(s, dir).orderBy(col("rnk"))

  def q09_top_brands(s: SparkSession, dir: String): DataFrame = {
    val top3 = usaGenreSales(s, dir).filter(col("rnk") <= 3).select(col("genre"))
    val brandAgg = salesStar(s, dir).filter(col("n_name") === USA)
      .groupBy(col("p_type").as("genre"), col("p_brand").as("artist"))
      .agg(sumRevenueD.as("revenue"))
      .join(broadcast(top3), Seq("genre"), "left_semi")
    TopK.perGroupDense(brandAgg, Seq(col("genre")),
        Seq(desc("revenue"), col("artist")), 3)
      .orderBy(col("genre"), col("rnk"), col("artist"))
  }

  def q11_genre_rank(s: SparkSession, dir: String): DataFrame =
    usaGenreSales(s, dir).select(col("genre"), col("total_revenue"), col("rnk"))
      .orderBy(col("rnk"))

  // ---- q10: customers spanning >2 genres (SQL_file.sql:202–214) ---------

  def q10_multi_genre_cust(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
    li.groupBy(col("o_custkey"))
      .agg(countDistinct(col("p_type")).as("genres_purchased"))
      .filter(col("genres_purchased") > 2)
      .join(custCountry(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name").as("customer"), col("genres_purchased"))
      .orderBy(desc("genres_purchased"), col("c_custkey"))
  }

  // ---- q12: inactive >= 91 days (SQL_file.sql:226–239) ------------------

  def q12_inactive(s: SparkSession, dir: String): DataFrame =
    custRecency(s, dir)
      .filter(col("recency_days") >= INACTIVE_DAYS)
      .join(custCountry(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name").as("customer"), col("country"),
        to_date(col("last_dt")).as("last_purchase"), col("recency_days"))
      .orderBy(desc("recency_days"), col("c_custkey"))

  // ---- s01: top-2 parts per top-3 USA genre by units (:248–273) ---------

  def s01_parts_to_promote(s: SparkSession, dir: String): DataFrame = {
    val top3 = usaGenreSales(s, dir).filter(col("rnk") <= 3).select(col("genre"))
    val albumAgg = salesStar(s, dir).filter(col("n_name") === USA)
      .groupBy(col("p_type").as("genre"), col("p_name").as("album"))
      .agg(sum(money(col("l_quantity"))).cast(DoubleType).as("units_sold"))
      .join(broadcast(top3), Seq("genre"), "left_semi")
    TopK.perGroupDense(albumAgg, Seq(col("genre")),
        Seq(desc("units_sold"), col("album")), 2)
      .orderBy(col("genre"), col("rnk"), col("album"))
  }

  // ---- s02: top-2 genres per non-USA country (:276–300) -----------------

  def s02_top_genres_non_usa(s: SparkSession, dir: String): DataFrame = {
    val agg = salesStar(s, dir).filter(col("n_name") =!= USA)
      .groupBy(col("n_name").as("country"), col("p_type").as("genre"))
      .agg(sumRevenueD.as("revenue"))
    TopK.perGroupDense(agg, Seq(col("country")),
        Seq(desc("revenue"), col("genre")), 2)
      .orderBy(col("country"), col("rnk"), col("genre"))
  }

  // ---- s03: old-vs-new cohort comparison (:304–387) ---------------------

  def s03_old_vs_new(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val status = o.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_dt"))
      .withColumn("status",
        when(year(col("first_dt")) <= OLD_COHORT_MAX_YEAR, "Old").otherwise("New"))
      .select(col("o_custkey").as("cust"), col("status"))
    val custAgg = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("spent_dec"))
      .join(status, col("o_custkey") === col("cust"))
    val byStatus = custAgg.groupBy(col("status")).agg(
      count(lit(1)).as("n_customers"),
      sum(col("spent_dec")).cast(DoubleType).as("total_revenue"),
      ratio(sum(col("spent_dec")), count(lit(1))).as("avg_spend_per_customer"),
      avgLong(col("n_orders")).as("avg_orders_per_customer"))
    // corrected basket semantics (SURVEY §2.3 note): lines per *order*,
    // not fanned out per customer-invoice pair
    val basket = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(status, col("o_custkey") === col("cust"))
      .groupBy(col("status"))
      .agg(avgLong(col("n_lines")).as("avg_basket_size"))
    byStatus.join(basket, Seq("status")).orderBy(col("status"))
  }

  // ---- s04: basket-affinity pair mining (:392–454) ----------------------

  /** The three affinity queries differ only in label column; the shared
    * persisted relation is the label-free part-key pair graph, built once
    * with a single shuffle — at cluster scale this is the
    * materialized co-purchase edge list every market-basket pass starts
    * from. Pair counts are array-order invariant, so no per-basket sort
    * is needed. */
  // The cached relation for the s04 family is the exploded KEY-pair
  // relation — (k_a, k_b) part keys, one row per unordered line pair per
  // basket. Keys, not labels: the C(n,2) HOF expansion then moves two
  // longs per pair instead of six strings (2.7× faster to build, ~10× less
  // storage to persist — at 100 TB the difference between caching an
  // integer edge list and caching a string-pair table), and each family
  // member derives its labels with two equi-joins against the part
  // dimension — broadcast at test scale, shuffle-on-key at cluster scale,
  // either way a plan Catalyst picks per stats rather than one baked in
  // at build time.
  private def basketPairs(s: SparkSession, dir: String): DataFrame =
    ExtCaches.anchor("basketPairs", s, dir)(
      ExtCaches.persistTracked(PairMining.coOccurrenceKeyPairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey")))

  private def affinity(s: SparkSession, dir: String, labelCol: String): DataFrame = {
    val lab = Tables.part(s, dir).select(col("p_partkey"), col(labelCol).as("lab"))
    val labeled = basketPairs(s, dir)
      .join(lab.select(col("p_partkey").as("k_a"), col("lab").as("la")), Seq("k_a"))
      .join(lab.select(col("p_partkey").as("k_b"), col("lab").as("lb")), Seq("k_b"))
      .filter(col("la") =!= col("lb"))
      .groupBy(least(col("la"), col("lb")).as("label_a"),
        greatest(col("la"), col("lb")).as("label_b"))
      .agg(count(lit(1)).as("pair_count"))
    PairMining.ordered(labeled)
  }

  /** Materialize the two shared cached relations (the 6-row view
    * aggregate and the exploded basket pairs) so their one-time build
    * cost can be measured — and charged — separately from the queries
    * that reuse them (the bench reports it as its own line instead of
    * silently loading it onto whichever family member runs first). */
  def warmCaches(s: SparkSession, dir: String): Unit =
    // The two materializations are independent jobs; submitting them as
    // concurrent actions lets the scheduler overlap the basket build's
    // shuffle with the star join's parquet scan — sequentially, each
    // job's IO phases leave most task slots idle (measured round 6,
    // PLANS.md: 0.71–0.74 s concurrent vs 1.27–1.33 s sequential).
    ExtCaches.warmChains(
      "usaGenreSales" -> (() => usaGenreSales(s, dir).count()),
      "basketPairs" -> (() => basketPairs(s, dir).count()))

  /** Release every shared relation and anchor, of every session, not only
    * `s`'s — one call to [[ExtCaches.clearCaches]], which holds this
    * workload's caches too. */
  def clearCaches(s: SparkSession): Unit = ExtCaches.clearCaches()

  def s04_affinity_genre(s: SparkSession, dir: String): DataFrame =
    affinity(s, dir, "p_type")
  def s04_affinity_brand(s: SparkSession, dir: String): DataFrame =
    affinity(s, dir, "p_brand")
  def s04_affinity_part(s: SparkSession, dir: String): DataFrame =
    affinity(s, dir, "p_name")

  /** s21 (engine extension over the reference's s04 idiom): the
    * "customers who bought X also bought Y" serving feed — each part's
    * top-3 co-purchased partners by basket-pair count. Symmetrizes the
    * canonical pairs (a lookup needs both directions), then the
    * rank-filter idiom under a total order (count desc, partner asc),
    * which plans as WindowGroupLimit — no partition materializes more
    * than 3 rows per part at any scale. Rides the SHARED basket-pair
    * cache, so the expensive C(n,2) expansion is paid once per session
    * with the three s04 queries. */
  def s21_also_bought(s: SparkSession, dir: String): DataFrame = {
    val p = affinity(s, dir, "p_name")
      .select(col("label_a"), col("label_b"), col("pair_count"))
    val sym = p.select(col("label_a").as("part_name"),
        col("label_b").as("also_bought"), col("pair_count"))
      .unionByName(p.select(col("label_b").as("part_name"),
        col("label_a").as("also_bought"), col("pair_count")))
    graft.ops.TopK.perGroupDense(sym, Seq(col("part_name")),
        Seq(desc("pair_count"), col("also_bought")), 3)
      .select(col("part_name"), col("rnk"), col("also_bought"),
        col("pair_count"))
      .orderBy(col("part_name"), col("rnk"))
  }

  // ---- s05: regional churn + behavior (:458–497) -------------------------

  def s05_regional_churn(s: SparkSession, dir: String): DataFrame =
    custRecency(s, dir)
      .join(custCountry(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("country"))
      .agg(count(lit(1)).as("total_customers"),
        sum(when(col("recency_days") > CHURN_DAYS, 1L).otherwise(0L)).as("churned"),
        round(ratio(
          sum(when(col("recency_days") > CHURN_DAYS, 1L).otherwise(0L)) * 100.0,
          count(lit(1))), 2).as("churn_rate"))
      .orderBy(desc("churn_rate"), col("country"))

  def s05_regional_behavior(s: SparkSession, dir: String): DataFrame = {
    val ordLines = Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
    ordersCountry(s, dir)
      .join(ordLines, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("country"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        ratio(sumMoney(col("o_totalprice")), count(lit(1))).as("avg_order_value"),
        avgLong(col("n_lines")).as("avg_basket_size"))
      .orderBy(col("country"))
  }

  // ---- s06: RFM risk segmentation (:501–558) -----------------------------

  def s06_risk_profile(s: SparkSession, dir: String): DataFrame = {
    val rfm = custRecency(s, dir)
      .withColumn("monetary", col("monetary_dec").cast(DoubleType))
    val globalAvg = rfm.agg(
      ratio(sum(col("monetary_dec")), count(lit(1))).as("avg_spent"))
    rfm.crossJoin(broadcast(globalAvg))
      .withColumn("risk_tier",
        when(col("recency_days") > CHURN_DAYS, "High Risk")
          .when(col("recency_days") > INACTIVE_DAYS, "Medium Risk")
          .otherwise("Low Risk"))
      .groupBy(col("risk_tier"))
      .agg(count(lit(1)).as("n_customers"),
        avgLong(col("recency_days")).as("avg_recency_days"),
        avgLong(col("n_orders")).as("avg_frequency"),
        ratio(sum(col("monetary_dec")), count(lit(1))).as("avg_monetary"),
        sum(when(col("monetary") < col("avg_spent"), 1L).otherwise(0L))
          .as("below_avg_spenders"))
      .orderBy(col("risk_tier"))
  }

  // ---- s07: CLV segmentation (:562–645) ----------------------------------

  def s07_clv(s: SparkSession, dir: String): DataFrame = {
    val itemsPerCust = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("ic_cust"))
      .agg(count(lit(1)).as("n_items"))
    // Both sides are aggregates hash-partitioned on the customer key, so a
    // merge join needs no further exchange. Unhinted, AQE turned it into a
    // broadcast join whose build side was whichever aggregate finished
    // first — a plan (and generated code) that changed from rep to rep.
    val base = custRecency(s, dir)
      .join(itemsPerCust.hint("merge"), col("o_custkey") === col("ic_cust"))
      .withColumn("monetary", col("monetary_dec").cast(DoubleType))
      .withColumn("basket", ratio(col("n_items"), col("n_orders")))
    val avgs = base.agg(
      ratio(sum(col("monetary_dec")), count(lit(1))).as("avg_spent"),
      avgLong(col("n_orders")).as("avg_orders"))
    base.crossJoin(broadcast(avgs))
      .withColumn("value_tier",
        when(col("monetary") >= col("avg_spent") * 1.2, "High Value")
          .when(col("monetary") >= col("avg_spent") * 0.8, "Mid Value")
          .otherwise("Low Value"))
      .withColumn("activity",
        when(col("recency_days") <= INACTIVE_DAYS, "Active")
          .when(col("recency_days") <= CHURN_DAYS, "At Risk")
          .otherwise("Inactive"))
      .groupBy(col("value_tier"), col("activity"))
      .agg(count(lit(1)).as("n_customers"),
        ratio(sum(col("monetary_dec")), count(lit(1))).as("avg_spent_usd"),
        avgLong(col("recency_days")).as("avg_recency_days"),
        sum(when(col("n_orders") > col("avg_orders"), 1L).otherwise(0L))
          .as("frequent_buyers"),
        sum(when(col("basket").between(2.0, 5.0), 1L).otherwise(0L))
          .as("medium_basket_customers"))
      .orderBy(col("value_tier"), col("activity"))
  }

  // ---- s10: schema evolution — ALTER TABLE ADD COLUMN analog (:649–650) --

  def s10_schema_evolution(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .withColumn("release_year",
        (lit(1990L) + col("p_partkey") % 30L).cast(IntegerType))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
        col("release_year"))
      .orderBy(col("p_partkey"))

  // ---- s11: per-country customer metrics (:654–679) -----------------------

  def s11_country_metrics(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("spent_dec"))
    val itemsPerCust = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("ic_cust"))
      .agg(count(lit(1)).as("n_items"))
    perCust.join(itemsPerCust, col("o_custkey") === col("ic_cust"))
      .join(custCountry(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("country"))
      .agg(count(lit(1)).as("n_customers"),
        ratio(sum(col("spent_dec")), count(lit(1))).as("avg_spend_per_customer"),
        avgLong(col("n_items")).as("avg_items_per_customer"),
        avgLong(col("n_orders")).as("avg_orders_per_customer"))
      .orderBy(col("country"))
  }

  // ---- s12: hierarchical rollup (SURVEY §2.4 "absent" — engine extension)

  /** Revenue by geography with subtotal rows at every hierarchy level
    * (region → country → grand total) in one pass — `rollup` is a single
    * Expand + aggregation, NOT one query per level. */
  def s12_rollup_geo(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("n_name").as("country"),
        col("o_totalprice"))
      .rollup(col("region"), col("country"))
      .agg(count(lit(1)).as("n_invoices"), sumMoneyD(col("o_totalprice")).as("revenue"),
        grouping_id().cast(LongType).as("gid"))
      .select(
        coalesce(col("region"), lit("ALL")).as("region"),
        coalesce(col("country"), lit("ALL")).as("country"),
        col("gid"), col("n_invoices"), col("revenue"))
      .orderBy(col("gid"), col("region"), col("country"))

  // ---- s13: set operations (SURVEY §2.7 "absent" — engine extension) ----

  /** Cross-genre buyer segmentation via INTERSECT / EXCEPT set semantics:
    * customers who bought both of two genres, and those who bought only
    * the first. */
  def s13_setops(s: SparkSession, dir: String): DataFrame = {
    // Aggregate to distinct (customer, genre) pairs BEFORE the set ops:
    // INTERSECT/EXCEPT plan as join-on-all-columns over their inputs, so
    // feeding them the deduplicated pair relation (≤ |customers|·2 rows)
    // instead of the raw fan-out makes their sort/shuffle stages operate
    // on ~100× less data. Catalyst then pushes each branch's genre
    // equality back through the aggregate into the part scan
    // (PushedFilters in PLANS.md), so every branch's star join stays
    // pruned to its own genre — the dedup costs one extra map-side-
    // combining aggregate and removes far more from the set-op stages
    // (sf0.1: 1.6 s → 1.3 s warm, 3.5 s → 1.7 s cold).
    val base = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .filter(col("p_type").isin("STANDARD", "PROMO"))
      .groupBy(col("o_custkey").as("c_custkey"), col("p_type"))
      .agg(count(lit(1)))
    def buyers(genre: String): DataFrame =
      base.filter(col("p_type") === genre).select(col("c_custkey"))
    val a = buyers("STANDARD")
    val b = buyers("PROMO")
    a.intersect(b).withColumn("segment", lit("both"))
      .unionByName(a.except(b).withColumn("segment", lit("only_standard")))
      .select(col("segment"), col("c_custkey"))
      .orderBy(col("segment"), col("c_custkey"))
  }

  // ---- s14: dispersion stats (SURVEY §2.4 "absent" — engine extension) --

  /** Exact median (interpolating percentile over integral quantities —
    * midpoints are dyadic, so both engines agree bitwise) and stddev via
    * explicit decimal moments: Σx and Σx² accumulate exactly in decimal
    * (order-independent), then one deterministic double formula — unlike
    * built-in stddev_samp, whose running-variance accumulation is
    * float-order-dependent and would break oracle hash parity. */
  def s14_dispersion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
    li.groupBy(col("p_type").as("genre"))
      .agg(count(lit(1)).as("n_lines"),
        expr("percentile(l_quantity, 0.5D)").as("median_qty"),
        sum(money(col("l_quantity"))).cast(DoubleType).as("sx"),
        sum(money(col("l_quantity")) * money(col("l_quantity")))
          .cast(DoubleType).as("sxx"))
      .select(col("genre"), col("n_lines"), col("median_qty"),
        (col("sx") / col("n_lines")).as("mean_qty"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n_lines"))
          / (col("n_lines") - 1)).as("stddev_qty"))
      .orderBy(col("genre"))
  }

  // ---- s15: full cube (region × segment with all subtotal combinations) --

  def s15_cube_geo_segment(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("c_mktsegment").as("segment"))
      .cube(col("region"), col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        grouping_id().cast(LongType).as("gid"))
      .select(coalesce(col("region"), lit("ALL")).as("region"),
        coalesce(col("segment"), lit("ALL")).as("segment"),
        col("gid"), col("n_customers"))
      .orderBy(col("gid"), col("region"), col("segment"))

  // ---- s16: pivot — revenue matrix, region rows × order-year columns -----

  /** Wide reshaping via pivot with an EXPLICIT pivot-value list (an
    * implicit list would trigger a driver-side distinct collection and
    * make the output schema data-dependent — never acceptable at scale). */
  def s16_pivot_revenue(s: SparkSession, dir: String): DataFrame = {
    val years = 1992 to 1998
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice"))
      .groupBy(col("region"))
      .pivot("yr", years.map(Integer.valueOf))
      .agg(sumMoneyD(col("o_totalprice")))
      .select(col("region") +: years.map(y =>
        coalesce(col(y.toString), lit(0.0)).as(s"rev_$y")): _*)
      .orderBy(col("region"))
  }

  // ---- s20: explicit GROUPING SETS (non-hierarchical subtotals) ----------

  /** Subtotals by region AND by segment — two independent grouping sets,
    * deliberately NOT expressible as ROLLUP (hierarchical, s12) or CUBE
    * (all combinations, s15): GROUPING SETS is the primitive both
    * desugar to, and this exercises it directly. One Expand pass, one
    * aggregate; grouping_id() disambiguates which set a row belongs to. */
  def s20_grouping_sets(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"),
        coalesce(col("c_mktsegment"), lit("N/A")).as("segment"))
      .groupingSets(Seq(Seq(col("region")), Seq(col("segment"))),
        col("region"), col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        grouping_id().cast(LongType).as("gid"))
      .select(coalesce(col("region"), lit("ALL")).as("region"),
        coalesce(col("segment"), lit("ALL")).as("segment"),
        col("gid"), col("n_customers"))
      .orderBy(col("gid"), col("region"), col("segment"))

  // ---- s17: explicit window frames — ROWS vs RANGE moving aggregates -----

  /** Seven-day revenue smoothing per country with the frame spec EXPLICIT,
    * in both flavors (SURVEY §2.5 W5 — previously only default frames):
    * a ROWS frame (6 preceding physical rows — missing trading days
    * silently widen the covered span) and a RANGE frame over a day index
    * (6 preceding VALUES — calendar-correct across gaps). The two columns
    * diverge exactly where days are missing, which is the point: frame
    * choice is a semantic decision, not syntax. Decimal partials keep
    * both sums exact; windows are partitioned by country (scale-safe),
    * and the day is unique within a country after the pre-aggregate, so
    * the ROWS frame is deterministic. */
  def s17_moving_frames(s: SparkSession, dir: String): DataFrame = {
    val daily = ordersCountry(s, dir)
      .groupBy(col("country"), to_date(col("o_orderdate")).as("d"))
      .agg(sumMoney(col("o_totalprice")).as("rev_dec"))
      .withColumn("day_num",
        datediff(col("d"), lit("1992-01-01").cast("date")).cast(LongType))
    val wRows = Window.partitionBy(col("country")).orderBy(col("day_num"))
      .rowsBetween(-6, Window.currentRow)
    val wRange = Window.partitionBy(col("country")).orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .select(col("country"), col("day_num"),
        col("rev_dec").cast(DoubleType).as("rev"),
        sum(col("rev_dec")).over(wRows).cast(DoubleType).as("mov7_rows"),
        sum(col("rev_dec")).over(wRange).cast(DoubleType).as("mov7_range"))
      .orderBy(col("country"), col("day_num"))
  }

  // ---- s18: distribution functions — per-segment spend deciles -----------

  /** Customer-spend distribution within each market segment: NTILE(10)
    * decile, PERCENT_RANK, CUME_DIST (SURVEY §2.5 — functions absent from
    * the reference, completing the window surface). Partitioned by
    * segment — the global-distribution variant is the same plan with a
    * coarser partition key; ties on spend are broken by customer key so
    * every rank function is total-order deterministic. */
  def s18_spend_deciles(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sumMoney(col("o_totalprice")).as("monetary_dec"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), coalesce(col("c_mktsegment"), lit("N/A")).as("segment"),
        col("monetary_dec"))
    val w = Window.partitionBy(col("segment"))
      .orderBy(desc("monetary_dec"), col("c_custkey"))
    m.select(col("segment"), col("c_custkey"),
        col("monetary_dec").cast(DoubleType).as("monetary"),
        ntile(10).over(w).cast(LongType).as("decile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy(col("segment"), col("c_custkey"))
  }

  // ---- s19: full outer join — nation trade flows (customer vs supplier) --

  /** Revenue attributed to each nation from two independent sides — money
    * spent by the nation's customers (ASIA only, so unmatched rows
    * genuinely occur) vs revenue fulfilled by the nation's suppliers —
    * stitched with a FULL OUTER equi-join (SURVEY §2.3 — the one join
    * type the reference never uses) and COALESCE'd to zero. First use of
    * the supplier dimension. Both sides pre-aggregate to ≤|nations| rows
    * before the join — full-outer on aggregated relations is broadcast-
    * cheap at any corpus scale. */
  def s19_nation_flows(s: SparkSession, dir: String): DataFrame = {
    val custSide = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("cust_rev_dec"))
    val suppSide = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"), sumRevenue.as("supp_rev_dec"))
    custSide.join(suppSide, Seq("nation"), "full_outer")
      .select(col("nation"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("cust_rev_dec").cast(DoubleType), lit(0.0)).as("cust_side_rev"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("supp_rev_dec").cast(DoubleType), lit(0.0)).as("supp_side_rev"))
      .orderBy(col("nation"))
  }

  // ---- f01: CONCAT null-propagation parity (SURVEY §2.8 F1) ---------------

  /** The reference concatenates name parts 8× (`CONCAT(first_name," ",
    * last_name)`, SQL_file.sql:74,81,94,97,105,203,212,228); MySQL CONCAT
    * returns NULL when ANY argument is NULL, and Spark's `concat` has the
    * same propagation — but the testdata's single `c_name` column never
    * exercised it. This query manufactures a NULL argument (one nation
    * name nulled via when/NULLIF) and proves, through the oracle, that
    * the engine's concat nulls the whole row's label exactly like the
    * `||` operator (DuckDB's NULL-propagating concat; DuckDB's CONCAT()
    * function itself *skips* NULLs — the dialect hazard F1 documents):
    * COUNT over the concat drops the nulled rows, MIN ignores them. */
  def f01_concat_null(s: SparkSession, dir: String): DataFrame = {
    val full = concat(col("c_name"), lit(" "),
      when(col("n_name") === USA, lit(null: String)).otherwise(col("n_name")))
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), full.as("full_name"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("full_name")).as("n_full"),
        min(col("full_name")).as("first_full"))
      .orderBy(col("n_name"))
  }

  // ---- f02: calendar-month interval arithmetic (SURVEY §2.8 F5/F7) --------

  /** The reference's `DATE_SUB(..., INTERVAL 6 MONTH)` (SQL_file.sql:142)
    * and `TIMESTAMPDIFF(MONTH, ...)` (SQL_file.sql:238,472) are elsewhere
    * substituted with fixed day thresholds (documented, SURVEY §5.3); this
    * query closes the gap by exercising the real calendar-month functions
    * under the oracle: `add_months` (end-of-month clamping — Jan 31 + 1
    * month = Feb 29) and `floor(months_between(anchor, d))`. The oracle
    * reproduces Spark's months_between day-of-month rule exactly:
    * whole-month difference plus (day(anchor) − day(d))/31.0 unless the
    * days match (the anchor is day 1, never a month end, so Spark's
    * both-last-day branch cannot fire). The fraction (1−d)/31 is an exact
    * small-integer IEEE divide in both engines and never lands on an
    * integer, so floor() cannot split across engines. */
  def f02_month_arith(s: SparkSession, dir: String): DataFrame = {
    val anchor = lit(java.sql.Date.valueOf("1998-12-01"))
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1998-01-01")))
      .select(
        floor(months_between(anchor, col("o_orderdate"))).as("months_ago"),
        add_months(col("o_orderdate"), 6).as("shifted"))
      .groupBy(col("months_ago"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("shifted")).as("first_shifted"),
        max(col("shifted")).as("last_shifted"))
      .orderBy(col("months_ago"))
  }

  // ======================================================================
  // Registry + DuckDB oracle SQL (SURVEY §5.2 — the correctness gate)
  // ======================================================================

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_dup" -> (q01_dup _),
    "q01_null" -> (q01_null _),
    "q02_top_parts_usa" -> (q02_top_parts_usa _),
    "q03_demographics" -> (q03_demographics _),
    "q04_rev_by_geo" -> (q04_rev_by_geo _),
    "q05_top_cust_per_country" -> (q05_top_cust_per_country _),
    "q06_top_part_per_cust" -> (q06_top_part_per_cust _),
    "q07_purchase_trends" -> (q07_purchase_trends _),
    "q08_churn_rate" -> (q08_churn_rate _),
    "q09_genre_sales" -> (q09_genre_sales _),
    "q09_top_brands" -> (q09_top_brands _),
    "q10_multi_genre_cust" -> (q10_multi_genre_cust _),
    "q11_genre_rank" -> (q11_genre_rank _),
    "q12_inactive" -> (q12_inactive _),
    "s01_parts_to_promote" -> (s01_parts_to_promote _),
    "s02_top_genres_non_usa" -> (s02_top_genres_non_usa _),
    "s03_old_vs_new" -> (s03_old_vs_new _),
    "s04_affinity_genre" -> (s04_affinity_genre _),
    "s04_affinity_brand" -> (s04_affinity_brand _),
    "s04_affinity_part" -> (s04_affinity_part _),
    "s21_also_bought" -> (s21_also_bought _),
    "s05_regional_churn" -> (s05_regional_churn _),
    "s05_regional_behavior" -> (s05_regional_behavior _),
    "s06_risk_profile" -> (s06_risk_profile _),
    "s07_clv" -> (s07_clv _),
    "s10_schema_evolution" -> (s10_schema_evolution _),
    "s11_country_metrics" -> (s11_country_metrics _),
    "s12_rollup_geo" -> (s12_rollup_geo _),
    "s13_setops" -> (s13_setops _),
    "s14_dispersion" -> (s14_dispersion _),
    "s15_cube_geo_segment" -> (s15_cube_geo_segment _),
    "s16_pivot_revenue" -> (s16_pivot_revenue _),
    "s17_moving_frames" -> (s17_moving_frames _),
    "s20_grouping_sets" -> (s20_grouping_sets _),
    "s18_spend_deciles" -> (s18_spend_deciles _),
    "s19_nation_flows" -> (s19_nation_flows _),
    "f01_concat_null" -> (f01_concat_null _),
    "f02_month_arith" -> (f02_month_arith _))

  private val recencySql: String =
    """recency AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_dt, count(*) AS n_orders,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
      |  FROM orders GROUP BY 1),
      |anchor AS (SELECT max(o_orderdate) AS max_dt FROM orders),
      |rec AS (
      |  SELECT r.*, date_diff('day', CAST(last_dt AS DATE), CAST(max_dt AS DATE)) AS recency_days
      |  FROM recency r, anchor)""".stripMargin

  // NOTE: l_linenumber is NOT unique within an order in this testdata, so
  // the reference's `a.line_id < b.line_id` idiom would silently drop pairs
  // whose two lines share a line number. Both sides therefore impose a
  // strict total order per basket (row_number here, array position in
  // PairMining.coOccurrence) — any total order yields the same pair counts.
  private def affinitySql(labelCol: String): String =
    s"""WITH lines AS (
       |  SELECT l_orderkey AS bk, $labelCol AS lab,
       |         row_number() OVER (PARTITION BY l_orderkey
       |                            ORDER BY l_linenumber, $labelCol) AS rn
       |  FROM lineitem JOIN part ON l_partkey = p_partkey)
       |SELECT least(a.lab, b.lab) AS label_a, greatest(a.lab, b.lab) AS label_b,
       |       count(*) AS pair_count
       |FROM lines a JOIN lines b ON a.bk = b.bk AND a.rn < b.rn
       |WHERE a.lab <> b.lab
       |GROUP BY 1, 2
       |ORDER BY pair_count DESC, label_a, label_b""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q01_dup" ->
      """SELECT o_orderkey, count(*) AS cnt FROM orders
        |GROUP BY o_orderkey HAVING count(*) > 1 ORDER BY o_orderkey""".stripMargin,

    "q01_null" ->
      """SELECT count(*) AS null_rows FROM orders
        |WHERE o_orderkey IS NULL OR o_custkey IS NULL OR o_orderstatus IS NULL
        |   OR o_totalprice IS NULL OR o_orderdate IS NULL OR o_orderpriority IS NULL""".stripMargin,

    "q02_top_parts_usa" ->
      s"""WITH agg AS (
         |  SELECT p_name AS track, p_brand AS artist, p_type AS genre,
         |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
         |         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  JOIN part     ON l_partkey = p_partkey
         |  WHERE n_name = '$USA'
         |  GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT *, CAST(rank() OVER (ORDER BY total_revenue DESC, total_qty DESC, track) AS BIGINT) AS rnk
         |  FROM agg)
         |SELECT * FROM ranked WHERE rnk <= 5 ORDER BY rnk""".stripMargin,

    "q03_demographics" ->
      """SELECT r_name AS region, n_name AS country,
        |       COALESCE(c_mktsegment, 'N/A') AS segment,
        |       count(*) AS total_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3
        |ORDER BY total_customers DESC, region, country, segment""".stripMargin,

    "q04_rev_by_geo" ->
      """SELECT r_name AS region, n_name AS country, count(*) AS total_invoices,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2
        |ORDER BY total_revenue DESC, country""".stripMargin,

    "q05_top_cust_per_country" ->
      """WITH spend AS (
        |  SELECT n_name AS country, c_custkey, c_name AS customer,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT country, c_custkey, customer, total_spent,
        |         CAST(dense_rank() OVER (PARTITION BY country ORDER BY total_spent DESC, c_custkey) AS BIGINT) AS rnk
        |  FROM spend)
        |SELECT * FROM ranked WHERE rnk <= 5 ORDER BY country, rnk, c_custkey""".stripMargin,

    "q06_top_part_per_cust" ->
      """WITH agg AS (
        |  SELECT o_custkey, p_partkey, p_name AS track,
        |         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY revenue DESC, p_partkey) AS rn
        |  FROM agg)
        |SELECT c_custkey, c_name AS customer, track, p_partkey, revenue
        |FROM ranked JOIN customer ON o_custkey = c_custkey
        |WHERE rn = 1 ORDER BY c_custkey""".stripMargin,

    "q07_purchase_trends" ->
      """WITH seq AS (
        |  SELECT o_custkey, o_orderdate, o_totalprice,
        |         lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders)
        |SELECT o_custkey AS c_custkey, count(*) AS n_orders,
        |       CAST(SUM(date_diff('day', CAST(prev AS DATE), CAST(o_orderdate AS DATE))) AS DOUBLE)
        |         / count(prev) AS avg_gap_days,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_order_value
        |FROM seq GROUP BY 1 ORDER BY 1""".stripMargin,

    "q08_churn_rate" ->
      s"""WITH $recencySql
         |SELECT count(*) AS total_customers,
         |       CAST(SUM(CASE WHEN recency_days > $CHURN_DAYS THEN 1 ELSE 0 END) AS BIGINT) AS churned,
         |       ROUND(CAST(SUM(CASE WHEN recency_days > $CHURN_DAYS THEN 1 ELSE 0 END) * 100.0 AS DOUBLE)
         |             / count(*), 2) AS churn_rate
         |FROM rec""".stripMargin,

    "q09_genre_sales" ->
      s"""WITH v AS ($usaGenreSalesSql)
         |SELECT * FROM v ORDER BY rnk""".stripMargin,

    "q09_top_brands" ->
      s"""WITH v AS ($usaGenreSalesSql),
         |agg AS (
         |  SELECT p_type AS genre, p_brand AS artist,
         |         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  JOIN part     ON l_partkey = p_partkey
         |  WHERE n_name = '$USA'
         |    AND p_type IN (SELECT genre FROM v WHERE rnk <= 3)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, CAST(dense_rank() OVER (PARTITION BY genre ORDER BY revenue DESC, artist) AS BIGINT) AS rnk
         |  FROM agg)
         |SELECT * FROM ranked WHERE rnk <= 3 ORDER BY genre, rnk, artist""".stripMargin,

    "q10_multi_genre_cust" ->
      """WITH g AS (
        |  SELECT o_custkey, count(DISTINCT p_type) AS genres_purchased
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1 HAVING count(DISTINCT p_type) > 2)
        |SELECT c_custkey, c_name AS customer, genres_purchased
        |FROM g JOIN customer ON o_custkey = c_custkey
        |ORDER BY genres_purchased DESC, c_custkey""".stripMargin,

    "q11_genre_rank" ->
      s"""WITH v AS ($usaGenreSalesSql)
         |SELECT genre, total_revenue, rnk FROM v ORDER BY rnk""".stripMargin,

    "q12_inactive" ->
      s"""WITH $recencySql
         |SELECT c_custkey, c_name AS customer, n_name AS country,
         |       CAST(last_dt AS DATE) AS last_purchase, recency_days
         |FROM rec
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE recency_days >= $INACTIVE_DAYS
         |ORDER BY recency_days DESC, c_custkey""".stripMargin,

    "s01_parts_to_promote" ->
      s"""WITH v AS ($usaGenreSalesSql),
         |agg AS (
         |  SELECT p_type AS genre, p_name AS album,
         |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS units_sold
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  JOIN part     ON l_partkey = p_partkey
         |  WHERE n_name = '$USA'
         |    AND p_type IN (SELECT genre FROM v WHERE rnk <= 3)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, CAST(dense_rank() OVER (PARTITION BY genre ORDER BY units_sold DESC, album) AS BIGINT) AS rnk
         |  FROM agg)
         |SELECT * FROM ranked WHERE rnk <= 2 ORDER BY genre, rnk, album""".stripMargin,

    "s02_top_genres_non_usa" ->
      s"""WITH agg AS (
         |  SELECT n_name AS country, p_type AS genre,
         |         CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |  FROM lineitem
         |  JOIN orders   ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation   ON c_nationkey = n_nationkey
         |  JOIN part     ON l_partkey = p_partkey
         |  WHERE n_name <> '$USA'
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, CAST(dense_rank() OVER (PARTITION BY country ORDER BY revenue DESC, genre) AS BIGINT) AS rnk
         |  FROM agg)
         |SELECT * FROM ranked WHERE rnk <= 2 ORDER BY country, rnk, genre""".stripMargin,

    "s03_old_vs_new" ->
      s"""WITH status AS (
         |  SELECT o_custkey AS cust,
         |         CASE WHEN year(min(o_orderdate)) <= $OLD_COHORT_MAX_YEAR
         |              THEN 'Old' ELSE 'New' END AS status
         |  FROM orders GROUP BY 1),
         |cust_agg AS (
         |  SELECT o_custkey, count(*) AS n_orders,
         |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent_dec
         |  FROM orders GROUP BY 1),
         |by_status AS (
         |  SELECT status, count(*) AS n_customers,
         |         CAST(SUM(spent_dec) AS DOUBLE) AS total_revenue,
         |         CAST(SUM(spent_dec) AS DOUBLE) / count(*) AS avg_spend_per_customer,
         |         CAST(SUM(n_orders) AS DOUBLE) / count(*) AS avg_orders_per_customer
         |  FROM cust_agg JOIN status ON o_custkey = cust GROUP BY 1),
         |basket AS (
         |  SELECT status, CAST(SUM(n_lines) AS DOUBLE) / count(*) AS avg_basket_size
         |  FROM (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1) b
         |  JOIN orders ON b.l_orderkey = o_orderkey
         |  JOIN status ON o_custkey = cust
         |  GROUP BY 1)
         |SELECT by_status.status AS status, n_customers, total_revenue, avg_spend_per_customer,
         |       avg_orders_per_customer, avg_basket_size
         |FROM by_status JOIN basket ON by_status.status = basket.status
         |ORDER BY 1""".stripMargin,

    "s04_affinity_genre" -> affinitySql("p_type"),
    "s04_affinity_brand" -> affinitySql("p_brand"),
    "s04_affinity_part" -> affinitySql("p_name"),

    // s21: the s04 pair CTE symmetrized, then dense_rank over the total
    // (count DESC, partner) order — identical to row_number here, and
    // the same spelling TopK.perGroupDense computes.
    "s21_also_bought" ->
      """WITH lines AS (
        |  SELECT l_orderkey AS bk, p_name AS lab,
        |         row_number() OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, p_name) AS rn
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (
        |  SELECT least(a.lab, b.lab) AS label_a, greatest(a.lab, b.lab) AS label_b,
        |         count(*) AS pair_count
        |  FROM lines a JOIN lines b ON a.bk = b.bk AND a.rn < b.rn
        |  WHERE a.lab <> b.lab
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT label_a AS part_name, label_b AS also_bought, pair_count FROM pairs
        |  UNION ALL
        |  SELECT label_b, label_a, pair_count FROM pairs),
        |r AS (
        |  SELECT part_name, also_bought, pair_count,
        |         CAST(dense_rank() OVER (PARTITION BY part_name
        |                ORDER BY pair_count DESC, also_bought) AS BIGINT) AS rnk
        |  FROM sym)
        |SELECT part_name, rnk, also_bought, pair_count FROM r
        |WHERE rnk <= 3
        |ORDER BY part_name, rnk""".stripMargin,

    "s05_regional_churn" ->
      s"""WITH $recencySql
         |SELECT n_name AS country, count(*) AS total_customers,
         |       CAST(SUM(CASE WHEN recency_days > $CHURN_DAYS THEN 1 ELSE 0 END) AS BIGINT) AS churned,
         |       ROUND(CAST(SUM(CASE WHEN recency_days > $CHURN_DAYS THEN 1 ELSE 0 END) * 100.0 AS DOUBLE)
         |             / count(*), 2) AS churn_rate
         |FROM rec
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY 1
         |ORDER BY churn_rate DESC, country""".stripMargin,

    "s05_regional_behavior" ->
      """WITH ord_lines AS (
        |  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1)
        |SELECT n_name AS country,
        |       count(DISTINCT o_custkey) AS n_customers,
        |       count(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_order_value,
        |       CAST(SUM(n_lines) AS DOUBLE) / count(*) AS avg_basket_size
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN ord_lines ON o_orderkey = l_orderkey
        |GROUP BY 1
        |ORDER BY country""".stripMargin,

    "s06_risk_profile" ->
      s"""WITH $recencySql,
         |g AS (SELECT CAST(SUM(monetary_dec) AS DOUBLE) / count(*) AS avg_spent FROM rec),
         |tiers AS (
         |  SELECT rec.*,
         |         CASE WHEN recency_days > $CHURN_DAYS THEN 'High Risk'
         |              WHEN recency_days > $INACTIVE_DAYS THEN 'Medium Risk'
         |              ELSE 'Low Risk' END AS risk_tier,
         |         CAST(monetary_dec AS DOUBLE) AS monetary, avg_spent
         |  FROM rec, g)
         |SELECT risk_tier, count(*) AS n_customers,
         |       CAST(SUM(recency_days) AS DOUBLE) / count(*) AS avg_recency_days,
         |       CAST(SUM(n_orders) AS DOUBLE) / count(*) AS avg_frequency,
         |       CAST(SUM(monetary_dec) AS DOUBLE) / count(*) AS avg_monetary,
         |       CAST(SUM(CASE WHEN monetary < avg_spent THEN 1 ELSE 0 END) AS BIGINT) AS below_avg_spenders
         |FROM tiers GROUP BY 1 ORDER BY risk_tier""".stripMargin,

    "s07_clv" ->
      s"""WITH $recencySql,
         |items AS (
         |  SELECT o_custkey AS ic_cust, count(*) AS n_items
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
         |base AS (
         |  SELECT rec.*, n_items,
         |         CAST(monetary_dec AS DOUBLE) AS monetary,
         |         CAST(n_items AS DOUBLE) / n_orders AS basket
         |  FROM rec JOIN items ON o_custkey = ic_cust),
         |avgs AS (
         |  SELECT CAST(SUM(monetary_dec) AS DOUBLE) / count(*) AS avg_spent,
         |         CAST(SUM(n_orders) AS DOUBLE) / count(*) AS avg_orders
         |  FROM base),
         |tiers AS (
         |  SELECT base.*,
         |         CASE WHEN monetary >= avg_spent * 1.2 THEN 'High Value'
         |              WHEN monetary >= avg_spent * 0.8 THEN 'Mid Value'
         |              ELSE 'Low Value' END AS value_tier,
         |         CASE WHEN recency_days <= $INACTIVE_DAYS THEN 'Active'
         |              WHEN recency_days <= $CHURN_DAYS THEN 'At Risk'
         |              ELSE 'Inactive' END AS activity,
         |         avg_orders
         |  FROM base, avgs)
         |SELECT value_tier, activity, count(*) AS n_customers,
         |       CAST(SUM(monetary_dec) AS DOUBLE) / count(*) AS avg_spent_usd,
         |       CAST(SUM(recency_days) AS DOUBLE) / count(*) AS avg_recency_days,
         |       CAST(SUM(CASE WHEN n_orders > avg_orders THEN 1 ELSE 0 END) AS BIGINT) AS frequent_buyers,
         |       CAST(SUM(CASE WHEN basket BETWEEN 2.0 AND 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS medium_basket_customers
         |FROM tiers GROUP BY 1, 2 ORDER BY value_tier, activity""".stripMargin,

    "s10_schema_evolution" ->
      """SELECT p_partkey, p_name, p_brand, p_type,
        |       CAST(1990 + p_partkey % 30 AS INTEGER) AS release_year
        |FROM part ORDER BY p_partkey""".stripMargin,

    "s15_cube_geo_segment" ->
      """WITH base AS (
        |  SELECT r_name AS region, c_mktsegment AS segment
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT COALESCE(region, 'ALL') AS region,
        |       COALESCE(segment, 'ALL') AS segment,
        |       CAST(GROUPING(region, segment) AS BIGINT) AS gid,
        |       count(*) AS n_customers
        |FROM base
        |GROUP BY CUBE(region, segment)
        |ORDER BY gid, region, segment""".stripMargin,

    "s16_pivot_revenue" ->
      ("""WITH base AS (
        |  SELECT r_name AS region, year(o_orderdate) AS yr,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT region,
        |""".stripMargin +
        (1992 to 1998).map(y =>
          s"       COALESCE(CAST(SUM(price) FILTER (yr = $y) AS DOUBLE), 0.0) AS rev_$y")
          .mkString(",\n") +
        "\nFROM base GROUP BY region ORDER BY region"),

    "s20_grouping_sets" ->
      """WITH base AS (
        |  SELECT r_name AS region, COALESCE(c_mktsegment, 'N/A') AS segment
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT COALESCE(region, 'ALL') AS region,
        |       COALESCE(segment, 'ALL') AS segment,
        |       CAST(GROUPING(region, segment) AS BIGINT) AS gid,
        |       count(*) AS n_customers
        |FROM base
        |GROUP BY GROUPING SETS ((region), (segment))
        |ORDER BY gid, region, segment""".stripMargin,

    "s17_moving_frames" ->
      """WITH daily AS (
        |  SELECT n_name AS country, CAST(o_orderdate AS DATE) AS d,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |dd AS (
        |  SELECT country, CAST(d - DATE '1992-01-01' AS BIGINT) AS day_num, rev_dec
        |  FROM daily)
        |SELECT country, day_num,
        |       CAST(rev_dec AS DOUBLE) AS rev,
        |       CAST(SUM(rev_dec) OVER (PARTITION BY country ORDER BY day_num
        |            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov7_rows,
        |       CAST(SUM(rev_dec) OVER (PARTITION BY country ORDER BY day_num
        |            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov7_range
        |FROM dd
        |ORDER BY country, day_num""".stripMargin,

    "s18_spend_deciles" ->
      """WITH m AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT c_custkey, COALESCE(c_mktsegment, 'N/A') AS segment, monetary_dec
        |  FROM m JOIN customer ON o_custkey = c_custkey)
        |SELECT segment, c_custkey,
        |       CAST(monetary_dec AS DOUBLE) AS monetary,
        |       CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM j
        |WINDOW w AS (PARTITION BY segment ORDER BY monetary_dec DESC, c_custkey)
        |ORDER BY segment, c_custkey""".stripMargin,

    "s19_nation_flows" ->
      """WITH cust AS (
        |  SELECT n_name AS nation, count(*) AS n_orders,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS cust_rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY 1),
        |supp AS (
        |  SELECT n_name AS nation, count(*) AS n_lines,
        |         SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS supp_rev
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT COALESCE(c.nation, s.nation) AS nation,
        |       CAST(COALESCE(c.n_orders, 0) AS BIGINT) AS n_orders,
        |       COALESCE(CAST(c.cust_rev AS DOUBLE), 0.0) AS cust_side_rev,
        |       CAST(COALESCE(s.n_lines, 0) AS BIGINT) AS n_lines,
        |       COALESCE(CAST(s.supp_rev AS DOUBLE), 0.0) AS supp_side_rev
        |FROM cust c FULL OUTER JOIN supp s ON c.nation = s.nation
        |ORDER BY nation""".stripMargin,

    "s14_dispersion" ->
      """SELECT p_type AS genre, count(*) AS n_lines,
        |       quantile_cont(l_quantity, 0.5) AS median_qty,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_qty,
        |       sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |             - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |               * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        |            / (count(*) - 1)) AS stddev_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s12_rollup_geo" ->
      """WITH base AS (
        |  SELECT r_name AS region, n_name AS country, o_totalprice
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey)
        |SELECT COALESCE(region, 'ALL') AS region,
        |       COALESCE(country, 'ALL') AS country,
        |       CAST(GROUPING(region, country) AS BIGINT) AS gid,
        |       count(*) AS n_invoices,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM base
        |GROUP BY ROLLUP(region, country)
        |ORDER BY gid, region, country""".stripMargin,

    "s13_setops" ->
      """WITH std AS (
        |  SELECT o_custkey AS c_custkey FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'STANDARD'),
        |promo AS (
        |  SELECT o_custkey AS c_custkey FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO')
        |SELECT 'both' AS segment, c_custkey FROM (SELECT c_custkey FROM std INTERSECT SELECT c_custkey FROM promo)
        |UNION ALL
        |SELECT 'only_standard' AS segment, c_custkey FROM (SELECT c_custkey FROM std EXCEPT SELECT c_custkey FROM promo)
        |ORDER BY segment, c_custkey""".stripMargin,

    "s11_country_metrics" ->
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent_dec
        |  FROM orders GROUP BY 1),
        |items AS (
        |  SELECT o_custkey AS ic_cust, count(*) AS n_items
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT n_name AS country, count(*) AS n_customers,
        |       CAST(SUM(spent_dec) AS DOUBLE) / count(*) AS avg_spend_per_customer,
        |       CAST(SUM(n_items) AS DOUBLE) / count(*) AS avg_items_per_customer,
        |       CAST(SUM(n_orders) AS DOUBLE) / count(*) AS avg_orders_per_customer
        |FROM per_cust
        |JOIN items ON o_custkey = ic_cust
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1
        |ORDER BY country""".stripMargin,

    // F1: the || operator is DuckDB's NULL-propagating concatenation —
    // matching MySQL CONCAT and Spark concat. (DuckDB's CONCAT() function
    // would IGNORE the null — the exact dialect trap this query pins.)
    "f01_concat_null" ->
      s"""SELECT n_name,
         |       count(*) AS n_rows,
         |       count(c_name || ' ' || nullif(n_name, '$USA')) AS n_full,
         |       min(c_name || ' ' || nullif(n_name, '$USA')) AS first_full
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin,

    // F5/F7: DATE + INTERVAL n MONTH clamps to month end in DuckDB exactly
    // like Spark add_months; months_ago re-implements Spark's
    // months_between day-of-month rule (whole months + (1 − day)/31
    // unless day = 1 — the anchor is day 1, so the both-last-day branch
    // cannot fire).
    "f02_month_arith" ->
      """SELECT CAST(floor((1998 - year(o_orderdate)) * 12 + (12 - month(o_orderdate))
        |         + CASE WHEN day(o_orderdate) = 1 THEN 0
        |                ELSE (1 - day(o_orderdate)) / 31.0 END) AS BIGINT) AS months_ago,
        |       count(*) AS n_orders,
        |       min(CAST(o_orderdate + INTERVAL 6 MONTH AS DATE)) AS first_shifted,
        |       max(CAST(o_orderdate + INTERVAL 6 MONTH AS DATE)) AS last_shifted
        |FROM orders
        |WHERE o_orderdate >= DATE '1998-01-01'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)
}
