package graft.operators

import graft.Q
import graft.plans.{AsOf, AsOfMode}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.concurrent.duration.{DurationInt, FiniteDuration}

/** The batch query layer a ksqlDB user of the reference pipeline has
  * (filters, projections, aggregations, windowed aggregations, joins —
  * reference: README.md "ksqlDB | Stream processing engine" and the
  * sink's table materializations), expressed declaratively so Catalyst
  * picks partial aggregation, broadcast joins and pushdown.
  *
  * Scale notes (100 TB): every query here does at most ONE shuffle on
  * its natural key; dimension joins are broadcast; all expressions are
  * whole-stage-codegen (no UDFs). Double aggregates are rounded on both
  * the Spark and oracle side so the hash compare is insensitive to
  * floating-point summation order (which differs across partitionings).
  */
object Relational {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** TPC-H Q1 shape: wide multi-aggregate scan. Partial aggregation
    * (map-side combine) means the shuffle moves |groups| rows, not
    * |lineitem| — holds at any scale factor. */
  val q1Agg: Q = Q(
    "q1_agg",
    (s, dir) => {
      val l = t(s, dir).lineitem
        .filter(col("l_shipdate") <= lit("2000-09-01").cast("timestamp"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity), 2) AS sum_qty,
           |  round(sum(l_extendedprice), 2) AS sum_base_price,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
           |  round(avg(l_quantity), 4) AS avg_qty,
           |  round(avg(l_discount), 4) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '2000-09-01'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** TPC-H Q3 shape: selective dim filter -> fact join -> top-k.
    * customer is broadcast; orders/lineitem join shuffles once on
    * orderkey; sort-limit is a TakeOrdered, not a global sort. */
  val q3TopkJoin: Q = Q(
    "q3_topk_join",
    (s, dir) => {
      val tb = t(s, dir)
      val cust = tb.customer.filter(col("c_mktsegment") === "BUILDING")
      val ord = tb.orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = tb.lineitem.filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""SELECT l_orderkey,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1998-01-01'
           |  AND l_shipdate > TIMESTAMP '1998-01-01'
           |GROUP BY l_orderkey
           |ORDER BY revenue DESC, l_orderkey ASC
           |LIMIT 10""".stripMargin))

  /** TPC-H Q5 shape: star join across 6 tables. region/nation/customer/
    * supplier are broadcast (each far under the threshold even at
    * 100 TB fact scale); the only shuffle is lineitem><orders on
    * orderkey. */
  val q5MultiJoin: Q = Q(
    "q5_multijoin",
    (s, dir) => {
      val tb = t(s, dir)
      val dims = tb.nation
        .join(broadcast(tb.region.filter(col("r_name").isin("ASIA", "EUROPE"))),
          col("n_regionkey") === col("r_regionkey"))
      tb.lineitem
        .join(tb.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tb.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tb.supplier),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(dims), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
           |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name IN ('ASIA','EUROPE')
           |GROUP BY n_name
           |ORDER BY revenue DESC, n_name""".stripMargin))

  /** TPC-H Q6 shape: tight filter + global aggregate. Zero shuffle
    * beyond the final single-row combine; filters reach the parquet
    * scan (PushedFilters). */
  val q6FilterAgg: Q = Q(
    "q6_filter_agg",
    (s, dir) =>
      t(s, dir).lineitem
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n")),
    Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           |  count(*) AS n
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |  AND l_discount BETWEEN 0.05 AND 0.07
           |  AND l_quantity < 24""".stripMargin))

  /** EXISTS semi join: customers with at least one high-value order.
    * left_semi keeps only the probe side's columns — no row
    * multiplication, and Spark can use a broadcast semi join. */
  val qSemiJoin: Q = Q(
    "q_semijoin",
    (s, dir) => {
      val tb = t(s, dir)
      tb.customer
        .join(tb.orders.filter(col("o_totalprice") > 400000).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
           |ORDER BY c_custkey""".stripMargin))

  /** NOT EXISTS anti join: customers with no in-progress ('P') order. */
  val qAntiJoin: Q = Q(
    "q_antijoin",
    (s, dir) => {
      val tb = t(s, dir)
      tb.customer
        .join(tb.orders.filter(col("o_orderstatus") === "P").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
           |ORDER BY c_custkey""".stripMargin))

  /** TPC-H Q13 shape: left outer join + two-level aggregation (order
    * count distribution over customers, zeros included). */
  val qOuterAgg: Q = Q(
    "q_outer_agg",
    (s, dir) => {
      val tb = t(s, dir)
      tb.customer
        .join(tb.orders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
           |  SELECT c_custkey, count(o_orderkey) AS c_count
           |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           |  GROUP BY c_custkey)
           |GROUP BY c_count
           |ORDER BY custdist DESC, c_count DESC""".stripMargin))

  /** Top-N per group via ranking window — the distributed replacement
    * for a per-key ORDER BY ... LIMIT. One shuffle on the partition
    * key; ties broken deterministically by orderkey. */
  val qWindowRank: Q = Q(
    "q_window_rank",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir).orders
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rk")
    },
    Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
           |  SELECT o_orderpriority, o_orderkey, o_totalprice,
           |    row_number() OVER (PARTITION BY o_orderpriority
           |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           |  FROM orders)
           |WHERE rk <= 3
           |ORDER BY o_orderpriority, rk""".stripMargin))

  /** Running aggregate over an ordered per-key frame (cumulative spend
    * per customer). Frame is ROWS UNBOUNDED PRECEDING..CURRENT — a
    * streaming-friendly prefix sum, one shuffle on custkey. */
  val qWindowRunning: Q = Q(
    "q_window_running",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir).orders
        .withColumn("cum_spend", round(sum("o_totalprice").over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("cum_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           |    ORDER BY o_orderdate ASC, o_orderkey ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend
           |FROM orders
           |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Multi-column DISTINCT — hash aggregate, one shuffle. */
  val qDistinct: Q = Q(
    "q_distinct",
    (s, dir) =>
      t(s, dir).lineitem
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** HLL approximate distinct — the scale path for count(distinct) at
    * 100 TB (constant memory per partition, one tiny combine). The
    * approximation is engine-specific, so the query ALSO computes the
    * exact distinct and emits a deterministic `within_bounds` verdict
    * (relative error <= 5% at rsd 0.01) — the oracle hash-matches
    * (group, exact, within_bounds=true) exactly. */
  val qApproxDistinct: Q = Q(
    "q_approx_distinct",
    (s, dir) => {
      val li = t(s, dir).lineitem
      // approx and exact are SEPARATE aggregations joined on the (tiny)
      // group key: putting countDistinct in the same agg() as the HLL
      // sketch triggers the distinct-rewrite Expand and costs ~40x.
      // The exact side is the scale-safe 2-phase distinct (both
      // aggregations partial-agg'd, no Expand).
      val approx = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
      val exact = li.select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("exact_orders"))
      exact.join(broadcast(approx), "l_returnflag")
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_orders") - col("exact_orders"))
            / col("exact_orders").cast("double") <= 0.05).as("within_bounds"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  count(DISTINCT l_orderkey) AS exact_orders,
           |  true AS within_bounds
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** HAVING — aggregate filter evaluated post-agg. */
  val qHaving: Q = Q(
    "q_having",
    (s, dir) =>
      t(s, dir).part
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          round(avg("p_retailprice"), 2).as("avg_price"))
        .filter(col("n_parts") > 50)
        .orderBy("p_brand"),
    Some("""SELECT p_brand, count(*) AS n_parts,
           |  round(avg(p_retailprice), 2) AS avg_price
           |FROM part GROUP BY p_brand HAVING count(*) > 50
           |ORDER BY p_brand""".stripMargin))

  /** CASE-based conditional aggregation (manual pivot). Monetary sum is
    * aggregated as integer cents so the result is partition-order-proof
    * (no float summation), and the oracle's integer sums are cast to
    * BIGINT because DuckDB widens integer sum() to HUGEINT, which lands
    * in pandas as float64 and fails the driver's dtype-strict hash. */
  val qConditionalAgg: Q = Q(
    "q_conditional_agg",
    (s, dir) =>
      t(s, dir).customer
        .groupBy("c_nationkey")
        .agg(
          sum(when(col("c_acctbal") > 0, 1L).otherwise(0L)).as("n_positive"),
          sum(when(col("c_acctbal") <= 0, 1L).otherwise(0L)).as("n_nonpositive"),
          sum(when(col("c_acctbal") > 0,
            expr("CAST(round(c_acctbal * 100) AS BIGINT)")).otherwise(0L))
            .as("sum_positive_cents"))
        .orderBy("c_nationkey"),
    Some("""SELECT c_nationkey,
           |  CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           |  CAST(sum(CASE WHEN c_acctbal <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive,
           |  CAST(sum(CASE WHEN c_acctbal > 0
           |    THEN CAST(round(c_acctbal * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sum_positive_cents
           |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin))

  /** Calendar rollup: month bucketing. DATE output (not timestamp) so
    * the compare is timezone-representation-proof. */
  val qDateRollup: Q = Q(
    "q_date_rollup",
    (s, dir) =>
      t(s, dir).orders
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("month"),
    Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
           |FROM orders GROUP BY 1 ORDER BY month""".stripMargin))

  /** Exact interpolated percentiles per group (median + p90), in
    * integer cents: quantile q = q10/10 sits between the rows at
    * 1-based ranks lo = (n-1)·q10 div 10 + 1 and lo + 1, a fraction
    * frac = (n-1)·q10 mod 10 tenths of the way, so the value in cents
    * is (10·lo + frac·(hi - lo) + 5) div 10 — the exact interpolation
    * rounded half-up, then /100. The float form
    * (hi-pos)·lo + (pos-lo)·hi loses an ulp at half-cent boundaries,
    * and the engines then round the same exact value to different
    * cents. Rank lookups ride [[centsAtRanks]]'s histogram. */
  val qPercentiles: Q = Q(
    "q_percentiles",
    (s, dir) => {
      def interp(q10: Int, lo: String, hi: String): Column =
        expr(s"($lo * 10 + ((n - 1) * $q10) % 10 * ($hi - $lo) + 5) div 10")
          .cast("double") / 100
      centsAtRanks(t(s, dir).orders.select(col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")),
          "o_orderpriority",
          "lo50" -> "(n - 1) * 5 div 10 + 1", "hi50" -> "least((n - 1) * 5 div 10 + 2, n)",
          "lo90" -> "(n - 1) * 9 div 10 + 1", "hi90" -> "least((n - 1) * 9 div 10 + 2, n)")
        .select(col("o_orderpriority"), interp(5, "lo50", "hi50").as("p50"),
          interp(9, "lo90", "hi90").as("p90"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH r AS (
           |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rk,
           |    count(*) OVER (PARTITION BY o_orderpriority) AS n
           |  FROM orders
           |), q AS (
           |  SELECT o_orderpriority, max(n) AS n,
           |    max(CASE WHEN rk = (n - 1) * 5 // 10 + 1 THEN cents END) AS lo50,
           |    max(CASE WHEN rk = least((n - 1) * 5 // 10 + 2, n) THEN cents END) AS hi50,
           |    max(CASE WHEN rk = (n - 1) * 9 // 10 + 1 THEN cents END) AS lo90,
           |    max(CASE WHEN rk = least((n - 1) * 9 // 10 + 2, n) THEN cents END) AS hi90
           |  FROM r GROUP BY o_orderpriority
           |)
           |SELECT o_orderpriority,
           |  CAST((lo50 * 10 + ((n - 1) * 5) % 10 * (hi50 - lo50) + 5) // 10 AS DOUBLE) / 100 AS p50,
           |  CAST((lo90 * 10 + ((n - 1) * 9) % 10 * (hi90 - lo90) + 5) // 10 AS DOUBLE) / 100 AS p90
           |FROM q ORDER BY o_orderpriority""".stripMargin))

  /** Argmax pattern: latest order per customer — the same latest-per-key
    * primitive the CDC materializer uses ([[graft.cdc.Cdc.latest]]). */
  val qArgmax: Q = Q(
    "q_argmax",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir).orders
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
           |  SELECT *, row_number() OVER (PARTITION BY o_custkey
           |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
           |  FROM orders) WHERE rk = 1
           |ORDER BY o_custkey""".stripMargin))

  /** Pivot event_type into columns (daily activity matrix). Explicit
    * pivot values — no extra distinct-collection job at scale. */
  val qPivot: Q = Q(
    "q_pivot",
    (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir).events
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      types.foldLeft(p)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
        .orderBy("day")
    },
    Some("""SELECT CAST(ts AS DATE) AS day,
           |  count(CASE WHEN event_type='click' THEN 1 END) AS click,
           |  count(CASE WHEN event_type='error' THEN 1 END) AS error,
           |  count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
           |  count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
           |  count(CASE WHEN event_type='view' THEN 1 END) AS view
           |FROM events GROUP BY 1 ORDER BY day""".stripMargin))

  /** ROLLUP subtotals; grouping keys coalesced to 'ALL' so null
    * ordering/hashing differences can't bite. */
  val qGroupingSets: Q = Q(
    "q_grouping_sets",
    (s, dir) =>
      t(s, dir).lineitem
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("qty"))
        .orderBy("returnflag", "linestatus"),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           |  coalesce(l_linestatus, 'ALL') AS linestatus,
           |  count(*) AS n, round(sum(l_quantity), 2) AS qty
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY returnflag, linestatus""".stripMargin))

  /** UNION + dedup across two derived sets. */
  val qUnionDedup: Q = Q(
    "q_union_dedup",
    (s, dir) => {
      val tb = t(s, dir)
      val a = tb.customer.filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nationkey"))
      val b = tb.supplier.filter(col("s_acctbal") > 9000)
        .select(col("s_nationkey").as("nationkey"))
      a.union(b).distinct().orderBy("nationkey")
    },
    Some("""SELECT nationkey FROM (
           |  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
           |  UNION
           |  SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000)
           |ORDER BY nationkey""".stripMargin))

  /** Input shape shared by both sessionize variants. */
  private def sessionizeInput(s: SparkSession, dir: String): DataFrame =
    t(s, dir).events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      .select("user_id", "event_id", "us", "cents")

  /** One oracle serves both sessionize variants — they must produce
    * identical output — and, with `userId` remapping the user column,
    * the skewed variant. */
  private def sessionizeOracle(userId: String = "user_id"): String =
    s"""WITH e AS (
      |  SELECT $userId, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |g AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
      |    ORDER BY us ASC, event_id ASC) AS prev_us FROM e)),
      |sess AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |    ORDER BY us ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS session_cents,
      |  min(us) AS start_us, max(us) AS end_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Sessionization: 30-min-gap sessions per user then per-session
    * aggregates. Classic lag+cumsum — both windows share ONE shuffle on
    * user_id (same partition key). Timestamps handled as epoch micros
    * end-to-end to dodge ns/us representation differences; the session
    * value is summed as integer cents (partition-order-proof) and the
    * oracle's integer window/group sums are cast to BIGINT (DuckDB
    * widens them to HUGEINT -> pandas float64 otherwise). */
  val qSessionize: Q = Q(
    "q_sessionize",
    (s, dir) => Skew.sessionize1Phase(sessionizeInput(s, dir))
      .orderBy("user_id", "session_id"),
    Some(sessionizeOracle()))

  /** The hot-key-safe sessionize (see [[Skew.sessionize2Phase]]):
    * same output, same oracle, but no reducer ever sees more than one
    * (user, hour-bucket) of raw events. */
  val qSessionize2Phase: Q = Q(
    "q_sessionize_2phase",
    (s, dir) => Skew.sessionize2Phase(sessionizeInput(s, dir))
      .orderBy("user_id", "session_id"),
    Some(sessionizeOracle()))

  /** The skew CLAIM, bench-visible: sessionize under a synthetic
    * hot-key distribution (~10% of users remapped onto one sentinel
    * user, so one key owns ~10% of all events) using the two-phase
    * operator. The oracle is the plain single-phase sessionize over the
    * same remapped input, so correctness-under-skew is driver-verified
    * every round, and the bench row times the mitigation on the actual
    * skewed distribution — no reducer sees more than one (user,
    * hour-bucket) of raw events even for the hot key. */
  val qSessionizeSkew: Q = Q(
    "q_sessionize_skew",
    (s, dir) => Skew.sessionize2Phase(
      sessionizeInput(s, dir).withColumn("user_id",
        expr(s"CASE WHEN ${graft.functions.Portable.charHash("concat('h', CAST(user_id AS STRING))")} % 10 = 0 THEN -7 ELSE user_id END")))
      .orderBy("user_id", "session_id"),
    Some(sessionizeOracle(s"CASE WHEN ${graft.functions.Portable.duckCharHash(
      "concat('h', CAST(user_id AS VARCHAR))")} % 10 = 0 THEN -7 ELSE user_id END AS user_id")))

  /** Decile assignment per market segment (ntile): the analytic a
    * pipeline uses to band customers/documents by a score. Rank-based
    * integer output — no float boundary; ordering fully determined by
    * the (acctbal, custkey) tiebreak. One shuffle on the segment. */
  val qNtile: Q = Q(
    "q_ntile",
    (s, dir) => t(s, dir).customer
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(10).over(
          Window.partitionBy("c_mktsegment")
            .orderBy(col("c_acctbal").asc, col("c_custkey").asc))
          .cast("long").as("decile"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_mktsegment,
           |  ntile(10) OVER (PARTITION BY c_mktsegment
           |    ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
           |FROM customer ORDER BY c_custkey""".stripMargin))

  /** Hopping (sliding) window aggregate: 1-hour windows every 30
    * minutes, so each event contributes to exactly two windows — the
    * ksqlDB HOPPING window. Spark's window() expands the event to its
    * windows before the shuffle (map-side), so the only exchange is
    * the per-(window, type) aggregation; the oracle replays the same
    * expansion with integer window arithmetic. */
  val qHoppingWindow: Q = Q(
    "q_hopping_window",
    (s, dir) => windowAgg(t(s, dir).events, 1.hour, 30.minutes)
      .orderBy("window_start_us", "event_type"),
    Some(windowSql(1.hour, 30.minutes)))

  /** The window aggregate of q_hopping_window and of the streamed
    * tumbling and hopping rows: per (`size` window every `slide`,
    * event_type), the event count and rounded value sum. */
  private[graft] def windowAgg(events: DataFrame, size: FiniteDuration,
      slide: FiniteDuration): DataFrame =
    events
      .groupBy(window(col("ts"), s"${size.toMicros} microseconds",
        s"${slide.toMicros} microseconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** DuckDB oracle of [[windowAgg]]: each event expands to its
    * size/slide windows with integer arithmetic on epoch µs. */
  private[graft] def windowSql(size: FiniteDuration, slide: FiniteDuration): String = {
    val (us, step) = (size.toMicros, slide.toMicros)
    require(us % step == 0, s"window $size is not a multiple of its slide $slide")
    s"""WITH e AS (
       |  SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |x AS (
       |  SELECT event_type, value,
       |    ((us // $step) - k) * $step AS window_start_us
       |  FROM e, unnest([${(0L until us / step).mkString(", ")}]) AS t(k))
       |SELECT window_start_us, event_type, count(*) AS n,
       |  round(sum(value), 2) AS sum_value
       |FROM x GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin
  }

  /** Tumbling hourly window aggregate over the event stream. Bucket is
    * integer hour-since-epoch — shuffle on the bucket only. (The
    * streamed [[graft.streaming.Streams.qStreamTumbling]] emits window
    * starts instead, through [[windowAgg]].) */
  val qTumblingWindow: Q = Q(
    "q_tumbling_window",
    (s, dir) =>
      t(s, dir).events
        .groupBy(expr("unix_micros(ts) div 3600000000").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour_bucket", "event_type"),
    Some("""SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hour_bucket,
           |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin))

  /** Semi-structured: extract a JSON property and aggregate on it —
    * the ksqlDB EXTRACTJSONFIELD equivalent. */
  val qEventsJson: Q = Q(
    "q_events_json",
    (s, dir) =>
      t(s, dir).events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("k_mod"),
    Some("""SELECT CAST(props->>'$.k' AS INT) % 10 AS k_mod,
           |  count(*) AS n, round(avg(value), 4) AS avg_value
           |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin))

  /** The as-of rows' shared input, times in epoch microseconds: the
    * events `(event_id, user_id, tu)` and the orders deduped to one per
    * (custkey, date) so every as-of winner is unique, `(rk, rtu,
    * order_key)`. */
  private[graft] def asOfInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tb = t(s, dir)
    val ord = tb.orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("order_key"))
      .select(col("o_custkey").as("rk"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("rtu"),
        col("order_key"))
    val ev = tb.events
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tu"))
    (ev, ord)
  }

  /** One native as-of row: for every event, the customer's order that
    * `mode` picks, optionally discarded beyond `tolerance` µs, emitted
    * as `keyOut` (order key) and `usOut` (order time), -1 when none. */
  final case class AsOfSpec(name: String, mode: AsOfMode,
      keyOut: String, usOut: String, tolerance: Option[Long] = None)

  /** The DuckDB oracle of an [[AsOfSpec]], built from fragments: the
    * `ord`/`e` CTEs over the same deduped input; DuckDB's own
    * `ASOF LEFT JOIN` for backward (`>=`) and forward (`<=`); for
    * nearest, which DuckDB lacks, a ranking of each event's orders by
    * (|Δt|, time) — quadratic per key, eval-scale only — that pins both
    * the distance choice and the backward-wins tie rule; and, with a
    * tolerance, a CASE nulling a pick farther than the bound. "Pick,
    * then discard if stale" equals the operator's "pick within the
    * bound" in every mode: the pick is the closest candidate on its
    * side(s), so if it is stale every candidate is. */
  private def asOfOracle(spec: AsOfSpec): String = {
    val ctes =
      """WITH ord AS (
        |  SELECT o_custkey AS rk, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS rtu,
        |    max(o_orderkey) AS order_key
        |  FROM orders GROUP BY 1, 2
        |), e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |)""".stripMargin
    def asof(op: String) =
      s"e ASOF LEFT JOIN ord o ON e.user_id = o.rk AND e.us $op o.rtu"
    val (ranked, from) = spec.mode match {
      case AsOfMode.Backward => ("", asof(">="))
      case AsOfMode.Forward => ("", asof("<="))
      case AsOfMode.Nearest =>
        (""", m AS (
           |  SELECT m_event_id, order_key, rtu FROM (
           |    SELECT e.event_id AS m_event_id, o.order_key, o.rtu,
           |      row_number() OVER (PARTITION BY e.event_id
           |        ORDER BY abs(e.us - o.rtu), o.rtu) AS rn
           |    FROM e JOIN ord o ON e.user_id = o.rk
           |  ) WHERE rn = 1
           |)""".stripMargin, "e LEFT JOIN m o ON e.event_id = o.m_event_id")
    }
    def pick(v: String) = spec.tolerance.fold(s"coalesce($v, -1)")(tol =>
      s"CASE WHEN o.order_key IS NOT NULL AND abs(e.us - o.rtu) <= $tol " +
        s"THEN $v ELSE -1 END")
    s"""$ctes$ranked
       |SELECT e.event_id, e.user_id,
       |  ${pick("o.order_key")} AS ${spec.keyOut},
       |  ${pick("o.rtu")} AS ${spec.usOut}
       |FROM $from
       |ORDER BY event_id""".stripMargin
  }

  /** An [[AsOfSpec]] through the NATIVE whole-operator extension
    * (graft.plans.AsOfJoin: logical node + strategy + merge-scan exec).
    * Plan shape in every mode: two key exchanges + two sorts (inserted
    * by EnsureRequirements from the exec's declared requirements), then
    * one O(|L|+|R|) merge scan with at most one buffered right row — no
    * Window, nothing materialized. */
  private def asOfQ(spec: AsOfSpec): Q = Q(
    spec.name,
    (s, dir) => {
      val (ev, ord) = asOfInputs(s, dir)
      AsOf.join(ev, ord, ev("user_id"), ev("tu"), ord("rk"), ord("rtu"),
          spec.mode, spec.tolerance)
        .select(col("event_id"), col("user_id"),
          coalesce(col("order_key"), lit(-1L)).as(spec.keyOut),
          coalesce(col("rtu"), lit(-1L)).as(spec.usOut))
        .orderBy("event_id")
    },
    Some(asOfOracle(spec)))

  /** The native as-of family:
    *  - q_asof_native: backward, "state as of the event";
    *  - q_asof_forward: the customer's FIRST order at or after the
    *    event ("next action after the touchpoint" — lead-time
    *    analysis); the forward scan needs no buffered candidate, the
    *    un-consumed right head is the match;
    *  - q_asof_nearest: the order CLOSEST in absolute time, backward
    *    winning exact ties (kdb's closest-reading join);
    *  - q_asof_tolerance: backward, unless the order is older than 30
    *    days (pandas merge_asof(tolerance=…)) — the staleness guard
    *    every state-join deployment eventually needs. */
  private val asOfFamily: Seq[AsOfSpec] = Seq(
    AsOfSpec("q_asof_native", AsOfMode.Backward, "as_of_key", "as_of_us"),
    AsOfSpec("q_asof_forward", AsOfMode.Forward, "next_key", "next_us"),
    AsOfSpec("q_asof_nearest", AsOfMode.Nearest, "near_key", "near_us"),
    AsOfSpec("q_asof_tolerance", AsOfMode.Backward, "fresh_key", "fresh_us",
      Some(30L * 24 * 3600 * 1000000)))
  val Seq(qAsofNative, qAsofForward, qAsofNearest, qAsofTolerance) =
    asOfFamily.map(asOfQ)

  /** as-of join — q_asof_native's semantics as a COMPOSITION, the
    * reference the native rows are checked against. Spark 4.1's
    * `Dataset.joinAsOf` has no physical operator of its own: the
    * optimizer's `RewriteAsOfJoin` turns it into a correlated `min_by`
    * subquery, i.e. a range-condition join per key, a near-cartesian
    * blowup on hot keys. The scalable composition is the union-window
    * trick: tag both relations, union, ONE shuffle on the key, and
    * carry the most recent right-side row forward with
    * last(_, ignoreNulls) over the (time, tag) ordering. This moves
    * each row exactly once. Same input and same oracle as
    * q_asof_native. */
  val qAsofJoin: Q = Q(
    "q_asof_join",
    (s, dir) => {
      val (ev, ord) = asOfInputs(s, dir)
      val w = Window.partitionBy("k").orderBy(col("tu").asc, col("is_r").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord.select(col("rk").as("k"), col("rtu").as("tu"), col("order_key"),
          lit(1).as("is_r"))
        .withColumn("event_id", lit(null).cast("long"))
        .unionByName(ev.select(col("user_id").as("k"), col("tu"),
          lit(null).cast("long").as("order_key"), lit(0).as("is_r"),
          col("event_id")))
        .withColumn("as_of_key", last("order_key", ignoreNulls = true).over(w))
        .withColumn("as_of_us",
          last(when(col("is_r") === 1, col("tu")), ignoreNulls = true).over(w))
        .filter(col("is_r") === 0)
        .select(col("event_id"), col("k").as("user_id"),
          coalesce(col("as_of_key"), lit(-1L)).as("as_of_key"),
          coalesce(col("as_of_us"), lit(-1L)).as("as_of_us"))
        .orderBy("event_id")
    },
    qAsofNative.oracle)

  /** banded range join: facts land in value bands via a range
    * condition against a tiny band dimension. The band table is
    * BROADCAST, so the range condition is evaluated map-side
    * (BroadcastNestedLoopJoin) with zero shuffle of the fact — the
    * right plan whenever one side of a range join is small. (Big-big
    * range joins instead bucketize the range into equi-join keys.) */
  val qRangeJoin: Q = Q(
    "q_range_join",
    (s, dir) => {
      val bands = s.createDataFrame(Seq(
        (0.0, 10.0, "small"), (10.0, 25.0, "mid"), (25.0, 100.0, "big")))
        .toDF("lo", "hi", "band")
      t(s, dir).lineitem
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("revenue"))
        .orderBy("band")
    },
    Some("""SELECT band, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
           |FROM lineitem
           |JOIN (VALUES (0.0, 10.0, 'small'), (10.0, 25.0, 'mid'),
           |             (25.0, 100.0, 'big')) AS b(lo, hi, band)
           |  ON l_quantity >= lo AND l_quantity < hi
           |GROUP BY band ORDER BY band""".stripMargin))

  /** CUBE: all 2^k grouping combinations in ONE pass over the fact
    * (the expand operator emits one row per grouping set before the
    * single shuffle — vs k separate scans). */
  val qCube: Q = Q(
    "q_cube",
    (s, dir) =>
      t(s, dir).lineitem
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("qty"))
        .orderBy("returnflag", "linestatus"),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           |  coalesce(l_linestatus, 'ALL') AS linestatus,
           |  count(*) AS n, round(sum(l_quantity), 2) AS qty
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY returnflag, linestatus""".stripMargin))

  /** hierarchical ROLLUP — (nation, year) -> nation subtotal -> grand
    * total in ONE pass: Catalyst expands each input row to its 3
    * grouping sets map-side (Expand) and everything partial-aggregates
    * before the single exchange; the hand-rolled alternative (one
    * UNION ALL branch per level) scans the fact once per level. */
  val qRollup: Q = Q(
    "q_rollup",
    // spark.sql form: Dataset.rollup downstream of a join trips the
    // ambiguous-self-join detector on the rollup output columns (the
    // Expand copies carry the source dataset tags); the SQL path
    // resolves cleanly and plans identically (Expand -> partial agg ->
    // one exchange, dims broadcast by hint)
    (s, dir) => {
      t(s, dir).orders.createOrReplaceTempView("orders_v")
      t(s, dir).customer.createOrReplaceTempView("customer_v")
      t(s, dir).nation.createOrReplaceTempView("nation_v")
      s.sql(
        """SELECT /*+ BROADCAST(customer_v), BROADCAST(nation_v) */
          |  coalesce(n_name, 'ALL') AS nation,
          |  coalesce(CAST(year(o_orderdate) AS INT), -1) AS yr,
          |  count(*) AS n,
          |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
          |FROM orders_v
          |JOIN customer_v ON o_custkey = c_custkey
          |JOIN nation_v ON c_nationkey = n_nationkey
          |GROUP BY ROLLUP (n_name, year(o_orderdate))
          |ORDER BY nation, yr""".stripMargin)
    },
    Some("""SELECT coalesce(n_name, 'ALL') AS nation,
           |  coalesce(CAST(year(o_orderdate) AS INT), -1) AS yr,
           |  count(*) AS n,
           |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           |    AS sum_cents
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY ROLLUP (n_name, year(o_orderdate))
           |ORDER BY nation, yr""".stripMargin))

  /** Exact discrete quantiles of integer `cents` per `key`, each rank
    * a SQL expression over the group size `n`: (key, n, one column per
    * rank holding the value at that 1-based rank). The naive form (a
    * row_number window over the raw rows) sorts the WHOLE group in one
    * task — at 3 distinct flags that is 3 single-threaded sorts of N/3
    * rows each, measured ~100–144 s at sf10. Instead the rows first
    * partial-agg into a (key, cents) HISTOGRAM — integer cents have a
    * bounded value domain, so the histogram is capped by |domain|, not
    * N (sf10: 60M rows → 594k histogram rows), and the cap TIGHTENS as
    * N grows past the domain size. The running-sum window then orders
    * only distinct cents (no ties, so the frame is unambiguous), and
    * the value at rank r is the smallest cents whose cumulative count
    * reaches r — the oracles' row_number pick. */
  private def centsAtRanks(df: DataFrame, key: String,
      ranks: (String, String)*): DataFrame =
    df.groupBy(key, "cents").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.partitionBy(key).orderBy("cents")))
      .withColumn("n", sum("cnt").over(Window.partitionBy(key)))
      .groupBy(key)
      .agg(max("n").as("n"), ranks.map { case (name, r) =>
        min(when(col("cum") >= expr(r), col("cents"))).as(name) }: _*)

  /** approximate per-group quantiles (mergeable sketch): the scale
    * counterpart of q_percentiles. The sketch value is engine-specific,
    * so the query ALSO computes exact DISCRETE quantiles (the integer-
    * cents value at rank ceil(p*n), picked with pure integer rank
    * arithmetic — interpolated quantiles differ between engines by an
    * ulp and flip rounding boundaries) and emits a deterministic
    * `within_bounds` verdict (sketch within 2% of exact at accuracy
    * 10000) — the oracle hash-matches (group, exact quantile cents, n,
    * within_bounds=true) exactly. The exact side is [[centsAtRanks]]. */
  val qApproxPercentile: Q = Q(
    "q_approx_percentile",
    (s, dir) => {
      val li = t(s, dir).lineitem
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      // the sketch runs as its own ObjectHashAggregate (combining it
      // with other aggs forces the sort-based fallback, ~40x slower)
      val approx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(cents, array(0.5, 0.95), 10000)").as("ap"))
      val exact = centsAtRanks(li, "l_returnflag",
        "exact_p50_cents" -> "(n + 1) div 2",
        "exact_p95_cents" -> "(95 * n + 99) div 100")
      exact.join(broadcast(approx), "l_returnflag")
        .select(col("l_returnflag"),
          col("exact_p50_cents"), col("exact_p95_cents"), col("n"),
          expr("""abs(ap[0] - exact_p50_cents) / exact_p50_cents <= 0.02
                 |AND abs(ap[1] - exact_p95_cents) / exact_p95_cents <= 0.02"""
            .stripMargin).as("within_bounds"))
        .orderBy("l_returnflag")
    },
    Some("""WITH c AS (
           |  SELECT l_returnflag,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           |  FROM lineitem),
           |r AS (
           |  SELECT *,
           |    row_number() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rk,
           |    count(*) OVER (PARTITION BY l_returnflag) AS n
           |  FROM c)
           |SELECT l_returnflag,
           |  CAST(max(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS BIGINT)
           |    AS exact_p50_cents,
           |  CAST(max(CASE WHEN rk = (95 * n + 99) // 100 THEN cents END) AS BIGINT)
           |    AS exact_p95_cents,
           |  CAST(max(n) AS BIGINT) AS n,
           |  true AS within_bounds
           |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** data-profiling audit: per-column null/distinct/min/max in ONE
    * pass (every aggregate is partial-aggregatable, so the scan is
    * read once and the shuffle moves a single row per partition). */
  val qProfile: Q = Q(
    "q_profile",
    // the mean is computed as integer-cents sum then integer division:
    // every aggregate is partition-order-proof, and the oracle's integer
    // sums are cast back to BIGINT (DuckDB widens to HUGEINT -> pandas
    // float64, which the driver's dtype-strict hash rejects).
    (s, dir) => t(s, dir).lineitem.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_returnflag"),
      countDistinct("l_returnflag").as("d_returnflag"),
      countDistinct("l_orderkey").as("d_orderkey"),
      round(min("l_quantity"), 2).as("min_qty"),
      round(max("l_quantity"), 2).as("max_qty"),
      sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("sum_price_cents"),
      unix_micros(min(col("l_shipdate")).cast("timestamp")).as("min_ship_us"),
      unix_micros(max(col("l_shipdate")).cast("timestamp")).as("max_ship_us"))
      .withColumn("avg_price_cents", expr("sum_price_cents div n_rows")),
    Some("""SELECT *, CAST(sum_price_cents // n_rows AS BIGINT) AS avg_price_cents FROM (
           |SELECT count(*) AS n_rows,
           |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_returnflag,
           |  count(DISTINCT l_returnflag) AS d_returnflag,
           |  count(DISTINCT l_orderkey) AS d_orderkey,
           |  round(min(l_quantity), 2) AS min_qty,
           |  round(max(l_quantity), 2) AS max_qty,
           |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           |  epoch_us(CAST(min(l_shipdate) AS TIMESTAMP)) AS min_ship_us,
           |  epoch_us(CAST(max(l_shipdate) AS TIMESTAMP)) AS max_ship_us
           |FROM lineitem)""".stripMargin))

  /** INTERSECT / EXCEPT set semantics: customers active in 1995
    * labeled by whether they were also active in 1996 ('both') or not
    * ('only_1995'). Spark plans both ops as left-semi/anti hash joins
    * over the deduped branches — same shuffle shape as q_semijoin, one
    * exchange per branch, no sort-merge of full sets. */
  val qSetOps: Q = Q(
    "q_set_ops",
    (s, dir) => {
      val tb = t(s, dir)
      def active(year: Int) = tb.orders
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp")
          && col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select("o_custkey").distinct()
      val both = active(1995).intersect(active(1996))
        .withColumn("set_op", lit("both"))
      val only = active(1995).except(active(1996))
        .withColumn("set_op", lit("only_1995"))
      both.union(only).orderBy("o_custkey")
    },
    Some("""WITH a95 AS (
           |  SELECT DISTINCT o_custkey FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           |    AND o_orderdate < TIMESTAMP '1996-01-01'
           |), a96 AS (
           |  SELECT DISTINCT o_custkey FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           |    AND o_orderdate < TIMESTAMP '1997-01-01'
           |)
           |SELECT o_custkey, 'both' AS set_op
           |FROM (SELECT o_custkey FROM a95 INTERSECT SELECT o_custkey FROM a96)
           |UNION ALL
           |SELECT o_custkey, 'only_1995' AS set_op
           |FROM (SELECT o_custkey FROM a95 EXCEPT SELECT o_custkey FROM a96)
           |ORDER BY o_custkey""".stripMargin))

  /** FULL OUTER join: year-over-year order counts per customer with
    * both-sided null handling — the one join type the rest of the
    * registry doesn't exercise. Both sides pre-aggregate to one row
    * per key before the join (partial-agg shuffles), so the full-outer
    * itself joins two deduped key sets — at scale this is two
    * well-partitioned exchanges plus a merge, never a blowup. */
  val qFullOuter: Q = Q(
    "q_full_outer",
    (s, dir) => {
      val tb = t(s, dir)
      def yearly(year: Int, out: String) = tb.orders
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp")
          && col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .groupBy(col("o_custkey").as(s"ck_$year"))
        .agg(count(lit(1)).as(out))
      yearly(1995, "n_1995").join(yearly(1996, "n_1996"),
          col("ck_1995") === col("ck_1996"), "full_outer")
        .select(
          coalesce(col("ck_1995"), col("ck_1996")).as("o_custkey"),
          coalesce(col("n_1995"), lit(0L)).as("n_1995"),
          coalesce(col("n_1996"), lit(0L)).as("n_1996"),
          when(col("ck_1995").isNull, "only_1996")
            .when(col("ck_1996").isNull, "only_1995")
            .otherwise("both").as("presence"))
        .orderBy("o_custkey")
    },
    Some("""WITH a AS (
           |  SELECT o_custkey AS ck95, count(*) AS n_1995 FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           |    AND o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1
           |), b AS (
           |  SELECT o_custkey AS ck96, count(*) AS n_1996 FROM orders
           |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           |    AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1
           |)
           |SELECT coalesce(ck95, ck96) AS o_custkey,
           |  coalesce(n_1995, 0) AS n_1995,
           |  coalesce(n_1996, 0) AS n_1996,
           |  CASE WHEN ck95 IS NULL THEN 'only_1996'
           |       WHEN ck96 IS NULL THEN 'only_1995'
           |       ELSE 'both' END AS presence
           |FROM a FULL OUTER JOIN b ON ck95 = ck96
           |ORDER BY o_custkey""".stripMargin))

  /** Correlated scalar subqueries: customers above their own nation's
    * average balance — the SQL-surface shape Catalyst DECORRELATES into
    * per-nation aggregates joined back (bounded exchanges), which is
    * exactly what you'd hand-write at scale; here the optimizer does it
    * from the subquery form. "Above average" is tested as the integer
    * cross-multiplication cents * n > sum (no float average, so no
    * engine-summation-order boundary). */
  val qCorrelated: Q = Q(
    "q_correlated",
    (s, dir) => {
      Tables(s, dir).customer.createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT c_custkey, c_nationkey,
          |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          |FROM customer_v o
          |WHERE CAST(round(c_acctbal * 100) AS BIGINT) *
          |  (SELECT count(*) FROM customer_v i
          |   WHERE i.c_nationkey = o.c_nationkey) >
          |  (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT))
          |   FROM customer_v i WHERE i.c_nationkey = o.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey, c_nationkey,
           |  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           |FROM customer o
           |WHERE CAST(round(c_acctbal * 100) AS BIGINT) *
           |  (SELECT count(*) FROM customer i
           |   WHERE i.c_nationkey = o.c_nationkey) >
           |  (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           |   FROM customer i WHERE i.c_nationkey = o.c_nationkey)
           |ORDER BY c_custkey""".stripMargin))

  /** wide-to-long reshaping (the inverse of q_pivot): lineitem's
    * measure columns unpivoted to (measure, value) rows, then
    * aggregated per (returnflag, measure). Spark's native `unpivot`
    * expands rows map-side in ONE scan — the naive formulation (one
    * SELECT + UNION ALL per measure, which is also what the DuckDB
    * oracle runs) scans the table once PER MEASURE, an M-fold read
    * amplification at 100 TB. Cents-ized to integers so the reshaped
    * sums hash-compare exactly. */
  val qUnpivot: Q = Q(
    "q_unpivot",
    (s, dir) => {
      val li = t(s, dir).lineitem.select(col("l_returnflag"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("quantity"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("extendedprice"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("discount"))
      li.unpivot(
          Array(col("l_returnflag")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "val")
        .groupBy("l_returnflag", "measure")
        .agg(sum("val").as("sum_val"), count(lit(1)).as("n"))
        .orderBy("l_returnflag", "measure")
    },
    Some("""WITH u AS (
           |  SELECT l_returnflag, 'quantity' AS measure,
           |    CAST(round(l_quantity * 100) AS BIGINT) AS val FROM lineitem
           |  UNION ALL
           |  SELECT l_returnflag, 'extendedprice',
           |    CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
           |  UNION ALL
           |  SELECT l_returnflag, 'discount',
           |    CAST(round(l_discount * 100) AS BIGINT) FROM lineitem)
           |SELECT l_returnflag, measure,
           |  CAST(sum(val) AS BIGINT) AS sum_val, count(*) AS n
           |FROM u GROUP BY 1, 2
           |ORDER BY l_returnflag, measure""".stripMargin))

  /** explicit window FRAMES — the one window feature the other rows
    * don't touch: a 3-row trailing sum (ROWS BETWEEN 2 PRECEDING AND
    * CURRENT ROW), the frame's own row count (ramp-up at the partition
    * head), and lag/lead neighbors, all over one (custkey, orderdate)
    * window. ONE shuffle on the partition key serves every frame —
    * Spark evaluates all four functions in a single Window operator
    * over the same sort. Integer cents end to end so the trailing sums
    * hash-compare exactly. */
  val qWindowFrames: Q = Q(
    "q_window_frames",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir).orders
        .filter(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderdate"))
      val order = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame3 = order.rowsBetween(-2, Window.currentRow)
      o.select(col("o_custkey"), col("o_orderkey"), col("cents"),
          sum("cents").over(frame3).as("trailing3_cents"),
          count(lit(1)).over(frame3).as("frame_n"),
          coalesce(lag("cents", 1).over(order), lit(-1L)).as("prev_cents"),
          coalesce(lead("cents", 1).over(order), lit(-1L)).as("next_cents"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""WITH o AS (
           |  SELECT o_custkey, o_orderkey,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderdate
           |  FROM orders WHERE o_custkey % 10 = 0)
           |SELECT o_custkey, o_orderkey, cents,
           |  CAST(sum(cents) OVER w3 AS BIGINT) AS trailing3_cents,
           |  count(*) OVER w3 AS frame_n,
           |  coalesce(lag(cents, 1) OVER wo, -1) AS prev_cents,
           |  coalesce(lead(cents, 1) OVER wo, -1) AS next_cents
           |FROM o
           |WINDOW
           |  wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           |  w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** top-N rows per group as a partial-aggregatable AGGREGATE
    * (graft_topk, a custom TypedImperativeAggregate): map tasks keep a
    * K-bounded heap per group, the exchange moves <= K pairs per
    * (group, map partition), reducers merge heaps — the skew-immune
    * form of what q_window_rank computes with a ranking window (which
    * funnels a hot group's every row through one reducer). Same
    * pre-aggregation argument as cdc_materialize's max_by, generalized
    * from K=1 to arbitrary K. Oracle ranks with the equivalent
    * row_number window — a hash match proves the heap semantics. */
  val qTopkAgg: Q = {
    val (grp, cents) = ("o_custkey % 50", "CAST(round(o_totalprice * 100) AS BIGINT)")
    Q("q_topk_agg",
      (s, dir) => topkRanks(t(s, dir).orders
          .select(expr(grp).as("grp"), expr(cents).as("cents"), col("o_orderkey"))
          .groupBy("grp")
          .agg(expr("graft_topk(cents, o_orderkey, 3)").as("top")), "o_orderkey"),
      Some(topkSql("orders", grp, cents, "o_orderkey", 3)))
  }

  /** The top-K rows' shared tail: each group's `top` heap (graft_topk's
    * `(v, id)` array) → one `(grp, rank, cents, <id>)` row per entry. */
  private[graft] def topkRanks(heaps: DataFrame, id: String): DataFrame =
    heaps.select(col("grp"), posexplode(col("top")))
      .select(col("grp"), (col("pos") + 1).cast("long").as("rank"),
        col("col.v").as("cents"), col("col.id").as(id))
      .orderBy("grp", "rank")

  /** DuckDB oracle of the top-K rows: the equivalent row_number window
    * over `table`, `grp` and `cents` as SQL expressions, ties broken by
    * the larger `id` like the heap. */
  private[graft] def topkSql(table: String, grp: String, cents: String,
      id: String, k: Int): String =
    s"""WITH o AS (
       |  SELECT $grp AS grp,
       |    $cents AS cents, $id
       |  FROM $table),
       |r AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY grp ORDER BY cents DESC, $id DESC) AS rank
       |  FROM o)
       |SELECT grp, rank, cents, $id FROM r WHERE rank <= $k
       |ORDER BY grp, rank""".stripMargin

  /** Count-min-sketch heavy hitters — the constant-memory frequency
    * sketch a 100 TB stream aggregates where exact per-key counts are
    * a luxury (d=4 hash rows × w=65536 buckets; every event increments
    * one cell per row, a key's estimate is the MIN over its d cells —
    * always ≥ the true count, over by at most ~εN with ε ≈ 2/w except
    * with probability ~(collision rate)^d).
    *
    * Like q_approx_distinct, the sketch itself is hash-seeded engine
    * detail, so the row emits the DETERMINISTIC verdict instead
    * ([[Cms.verdict]]: exact top-10 keys with two booleans that
    * hash-match as true against the oracle's constants). Sketch and
    * verdict are shared with the streaming twin, so the two rows cannot
    * drift. */
  val qApproxTopkCms: Q = Q(
    "q_approx_topk",
    (s, dir) => {
      val li = t(s, dir).lineitem.select(col("l_suppkey"))
      Cms.verdict(li, "l_suppkey", Cms.cells(li, "l_suppkey"))
    },
    Some(Cms.verdictSql("lineitem", "l_suppkey")))

  val all: Seq[Q] = Seq(
    q1Agg, q3TopkJoin, q5MultiJoin, q6FilterAgg, qSemiJoin, qAntiJoin,
    qOuterAgg, qWindowRank, qWindowRunning, qDistinct, qApproxDistinct,
    qHaving, qConditionalAgg, qDateRollup, qPercentiles, qArgmax, qPivot,
    qGroupingSets, qUnionDedup, qSessionize, qSessionize2Phase, qNtile,
    qHoppingWindow, qTumblingWindow, qEventsJson, qAsofJoin,
    qApproxPercentile, qRangeJoin, qCube, qProfile, qSetOps,
    qSessionizeSkew, qFullOuter, qCorrelated, qUnpivot, qWindowFrames,
    qTopkAgg, qApproxTopkCms, qAsofNative, qAsofForward, qAsofNearest,
    qAsofTolerance, qRollup)
}
