package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine._
import graft.QueryPack

/** Relational operator suite over the driver's TPC-H-ish tables.
  *
  * The reference pipeline itself has no relational layer (SURVEY.md §2.6:
  * zero joins), so this pack is the north-star extension surface from
  * BASELINE.json: scan/filter/project with pushdown, hash & broadcast
  * joins, semi/anti joins, group-by/rollup/pivot aggregation, window
  * functions, set ops, sessionization, and skew-resistant two-phase
  * aggregation — each with a DuckDB oracle.
  *
  * Scale notes (100 TB design point):
  *  - dimension joins (`customer`, `nation`, `region`, `supplier`) are
  *    explicitly `broadcast()` — no shuffle of the fact table;
  *  - fact-fact joins go through AQE (skew-split, runtime stats);
  *  - aggregates are partial+final (Catalyst does map-side combine for
  *    all `groupBy().agg()` here — verified via `.explain`);
  *  - filters/projections sit directly on the parquet scan so pushdown
  *    and column pruning apply (`PushedFilters`/`ReadSchema`).
  */
object Relational extends QueryPack {

  // -- q01: full-scan aggregation (TPC-H Q1 shape) ------------------------
  private def q01(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumM(col("l_quantity")).as("sum_qty"),
        sumM(col("l_extendedprice")).as("sum_base_price"),
        sumM(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        sumM(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sumMs("l_quantity")} AS sum_qty,
       |  ${sumMs("l_extendedprice")} AS sum_base_price,
       |  ${sumMs("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${sumMs("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -- q02: filter + projection (parquet pushdown path) -------------------
  private def q02(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-04-01").cast("timestamp")
        && col("l_quantity") >= 45.0)
      .select(col("l_orderkey"), col("l_linenumber"),
        d2(m4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q02Sql =
    s"""SELECT l_orderkey, l_linenumber,
       |  ${d2s(m4s("l_extendedprice * (1.0 - l_discount)"))} AS net_price
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
       |  AND l_shipdate < TIMESTAMP '1998-04-01' AND l_quantity >= 45.0
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // -- q03: broadcast dimension join + aggregation ------------------------
  private def q03(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sumM(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))

  private val q03Sql =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |  ${sumMs("o_totalprice")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // -- q04: multi-way join through the dimension chain (TPC-H Q5 shape) ---
  private def q04(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(table(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("ASIA", "EUROPE"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sumM(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  private val q04Sql =
    s"""SELECT r_name, n_name,
       |  ${sumMs("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name IN ('ASIA', 'EUROPE')
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // -- q05: left-semi join (EXISTS) ---------------------------------------
  private def q05(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .join(table(s, dir, "lineitem").filter(col("l_quantity") >= 49.0),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  private val q05Sql =
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
      |ORDER BY o_orderkey""".stripMargin

  // -- q06: left-anti join (NOT EXISTS) -----------------------------------
  private def q06(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  private val q06Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // -- q07: top-k (global sort + limit -> TakeOrderedAndProject) ----------
  private def q07(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(col("o_orderkey"),
        d2(m4(col("o_totalprice"))).as("total_price"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(100)

  private val q07Sql =
    s"""SELECT o_orderkey, ${d2s(m4s("o_totalprice"))} AS total_price
       |FROM orders
       |ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin

  // -- q08: window ranking (top-n per group) -------------------------------
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q08Sql =
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // -- q09: window running aggregate ---------------------------------------
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "lineitem")
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        d2(sum(m4(col("l_quantity"))).over(w)).as("running_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val q09Sql =
    s"""SELECT l_orderkey, l_linenumber,
       |  ${d2s(s"SUM(${m4s("l_quantity")}) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")} AS running_qty
       |FROM lineitem WHERE l_orderkey % 50 = 0
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // -- q10: rollup (hierarchical grouping sets) ----------------------------
  private def q10(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sumM(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy(col("rf"), col("ls"))

  private val q10Sql =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
       |  COALESCE(l_linestatus, 'ALL') AS ls,
       |  ${sumMs("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY rf, ls""".stripMargin

  // -- q11/q12: set operations ---------------------------------------------
  private def q11(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(table(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .join(broadcast(table(s, dir, "nation")), col("nk") === col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))

  private val q11Sql =
    """SELECT n_nationkey, n_name FROM nation
      |JOIN (SELECT c_nationkey AS nk FROM customer
      |      INTERSECT SELECT s_nationkey FROM supplier) ON nk = n_nationkey
      |ORDER BY n_nationkey""".stripMargin

  private def q12(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .except(table(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .join(broadcast(table(s, dir, "nation")), col("nk") === col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))

  private val q12Sql =
    """SELECT n_nationkey, n_name FROM nation
      |JOIN (SELECT c_nationkey AS nk FROM customer
      |      EXCEPT SELECT s_nationkey FROM supplier) ON nk = n_nationkey
      |ORDER BY n_nationkey""".stripMargin

  // -- q13: conditional aggregation ----------------------------------------
  private def q13(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
          .as("n_fulfilled"))
      .withColumn("open_ratio",
        round(col("n_open").cast("double") / col("n_total"), 6))
      .orderBy(col("o_orderpriority"))

  private val q13Sql =
    """SELECT o_orderpriority, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled,
      |  ROUND(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS open_ratio
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -- q14: date bucketing --------------------------------------------------
  private def q14(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sumM(col("o_totalprice")).as("revenue"))
      .orderBy(col("month"))

  private val q14Sql =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
       |  ${sumMs("o_totalprice")} AS revenue
       |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  // -- q15: string functions --------------------------------------------------
  private def q15(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .filter(col("p_type").startsWith("ECO") || col("p_name").contains("widget"))
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        concat(col("p_name"), lit(" ["), col("p_type"), lit("]")).as("tagged"),
        length(col("p_name")).cast("bigint").as("name_len"),
        regexp_replace(col("p_name"), " ", "_").as("snake"))
      .orderBy(col("p_partkey"))

  private val q15Sql =
    """SELECT p_partkey, upper(p_brand) AS brand_u,
      |  p_name || ' [' || p_type || ']' AS tagged,
      |  length(p_name) AS name_len,
      |  replace(p_name, ' ', '_') AS snake
      |FROM part
      |WHERE p_type LIKE 'ECO%' OR p_name LIKE '%widget%'
      |ORDER BY p_partkey""".stripMargin

  // -- q16: group-by + HAVING + broadcast join back -------------------------
  private def q16(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 14)
      .join(broadcast(table(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"))
      .orderBy(col("c_custkey"))

  private val q16Sql =
    """SELECT c_custkey, c_name, n_orders FROM customer
      |JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      |      GROUP BY o_custkey HAVING COUNT(*) >= 14) ON o_custkey = c_custkey
      |ORDER BY c_custkey""".stripMargin

  // -- q17: scalar subquery (orders above global mean price) ----------------
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    val thr = o.agg((sum(m4(col("o_totalprice"))).cast("double")
      / lit(10000.0) / count(lit(1))).as("thr"))
    o.join(broadcast(thr))
      .filter(col("o_totalprice") > col("thr"))
      .select(col("o_orderkey"), d2(m4(col("o_totalprice"))).as("total_price"))
      .orderBy(col("o_orderkey"))
  }

  private val q17Sql =
    s"""SELECT o_orderkey, ${d2s(m4s("o_totalprice"))} AS total_price
       |FROM orders
       |WHERE o_totalprice > (SELECT CAST(SUM(${m4s("o_totalprice")}) AS DOUBLE)
       |                             / 10000.0 / COUNT(*) FROM orders)
       |ORDER BY o_orderkey""".stripMargin

  // -- q18: gap-based sessionization (lag + cumulative window) --------------
  // `ts` arrives as bigint epoch-nanos (nanosAsLong read; Engine.session);
  // both sides work in MICROS (`ts div 1000` == DuckDB epoch_us — its
  // parquet reader truncates nanos timestamps to micros) so the 30-min
  // gap test and the ordering are identical exact integers.
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000"), col("event_id"))
    table(s, dir, "events")
      .withColumn("prev_us", lag(expr("ts div 1000"), 1).over(byTime))
      .withColumn("new_session",
        when(col("prev_us").isNull
          || expr("ts div 1000") - col("prev_us") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("session_id")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  private val q18Sql =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(MAX(session_id) AS BIGINT) AS n_sessions
      |FROM (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN prev_us IS NULL
      |                OR epoch_us(ts) - prev_us > 1800000000 THEN 1
      |           ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, ts, event_id,
      |        lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                ORDER BY epoch_us(ts), event_id)
      |          AS prev_us
      |      FROM events)))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // -- q19: exact distinct aggregation ---------------------------------------
  private def q19(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val q19Sql =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q20: union of heterogeneous sources ------------------------------------
  private def q20(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .select(lit("customer").as("kind"), col("c_acctbal").as("bal"))
      .unionAll(table(s, dir, "supplier")
        .select(lit("supplier").as("kind"), col("s_acctbal").as("bal")))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sumM(col("bal")).as("total_bal"))
      .orderBy(col("kind"))

  private val q20Sql =
    s"""SELECT kind, COUNT(*) AS n, ${sumMs("bal")} AS total_bal
       |FROM (SELECT 'customer' AS kind, c_acctbal AS bal FROM customer
       |      UNION ALL
       |      SELECT 'supplier' AS kind, s_acctbal AS bal FROM supplier)
       |GROUP BY kind ORDER BY kind""".stripMargin

  // -- q21: outer join with unmatched-side counting ----------------------------
  private def q21(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part")
      .join(table(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"),
        "left")
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("p_partkey")).as("n_parts"),
        count(col("l_orderkey")).as("n_lineitems"))
      .orderBy(col("p_brand"))

  private val q21Sql =
    """SELECT p_brand, COUNT(DISTINCT p_partkey) AS n_parts,
      |  COUNT(l_orderkey) AS n_lineitems
      |FROM part LEFT JOIN lineitem ON p_partkey = l_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // -- q22: two-phase salted aggregation (skew resistance) ---------------------
  // Result is identical to a plain GROUP BY (the oracle); the point is the
  // plan: a skewed hot key is split across 8 salt buckets in phase 1
  // (map-side partial per salt), so no single reducer sees the whole key.
  private def q22(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("event_type"), (col("event_id") % 8).as("salt"))
      .agg(count(lit(1)).as("pn"), sum(m4(col("value"))).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), d2(sum(col("pv"))).as("total_value"))
      .orderBy(col("event_type"))

  private val q22Sql =
    s"""SELECT event_type, COUNT(*) AS n, ${sumMs("value")} AS total_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q23: exact median / extrema ----------------------------------------------
  private def q23(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
      .orderBy(col("l_returnflag"))

  private val q23Sql =
    """SELECT l_returnflag, median(l_quantity) AS median_qty,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q24: pivot (days x event types) --------------------------------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def q24(s: SparkSession, dir: String): DataFrame = {
    // ts is bigint epoch-nanos; floor-divide to micros for the day bucket
    // (exact for the positive epoch range, same floor as DuckDB strftime).
    val pivoted = table(s, dir, "events")
      .groupBy(date_format(expr("timestamp_micros(ts div 1000)"),
        "yyyy-MM-dd").as("day"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    eventTypes.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }.orderBy(col("day"))
  }

  private val q24Sql = {
    val arms = eventTypes.map(t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day, ${arms.mkString(", ")}
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  }

  // -- q25: cube (full grouping-set lattice) ---------------------------------
  private def q25(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumM(col("o_totalprice")).as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("revenue"))
      .orderBy(col("status"), col("priority"))

  private val q25Sql =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |  COALESCE(o_orderpriority, 'ALL') AS priority,
       |  COUNT(*) AS n, ${sumMs("o_totalprice")} AS revenue
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  // -- q32: explicit grouping sets (partial lattice) --------------------------
  // The grouping-set shapes cube/rollup can't express: both one-dimension
  // margins WITHOUT the grand total, via the Dataset groupingSets API
  // (Spark 4.0+). Same single-shuffle expansion as cube — each input row
  // is replicated once per matching set before the hash aggregate.
  private def q32(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumM(col("o_totalprice")).as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("revenue"))
      .orderBy(col("status"), col("priority"))

  private val q32Sql =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |  COALESCE(o_orderpriority, 'ALL') AS priority,
       |  COUNT(*) AS n, ${sumMs("o_totalprice")} AS revenue
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
       |  (o_orderstatus), (o_orderpriority))
       |ORDER BY status, priority""".stripMargin

  // -- q33: RANGE-frame window (trailing 1-hour running sum) ------------------
  // The windowing mode q09's ROWS frame doesn't cover: a frame bounded
  // by VALUE distance, not row count — each event's sum of `value` over
  // the user's trailing hour (micros). RANGE frames include all peers
  // of the boundary rows identically in Spark and DuckDB, so exactness
  // needs no tiebreak; the measure is m4 fixed-point so summation order
  // cannot diverge. One hash partition per user, sorted once — the
  // standard scalable window shape.
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0)
    table(s, dir, "events")
      .selectExpr("event_id", "user_id", "ts div 1000 AS us", "value")
      .withColumn("hour_sum", d2(sum(m4(col("value"))).over(w)))
      .select("event_id", "user_id", "us", "hour_sum")
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  private val q33Sql = {
    val winSum = s"SUM(${m4s("value")}) OVER (PARTITION BY user_id" +
      " ORDER BY us RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
    s"""SELECT event_id, user_id, us,
       |  ${d2s(winSum)} AS hour_sum
       |FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value
       |      FROM events)
       |ORDER BY user_id, us, event_id""".stripMargin
  }

  // -- q34: ntile quartiles within each order priority ------------------------
  // The bucketing mode the window suite lacked: equal-frequency tiles.
  // Quartile of order value WITHIN its priority class — partitioned by
  // priority, so the window is parallel (a global ntile would be a
  // single-partition sort; partition-scoped tiles are the scalable
  // form, and the per-priority comparison is the analytical question
  // anyway). ntile's earlier-tiles-get-the-remainder rule is identical
  // in Spark and DuckDB; ordering is m4-quantized price with the order
  // key as total tiebreak, so tile boundaries cannot diverge.
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price_m4").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        m4(col("o_totalprice")).as("price_m4"))
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
      .select("o_orderpriority", "o_orderkey", "quartile")
      .orderBy(col("o_orderpriority"), col("quartile"), col("o_orderkey"))
  }

  private val q34Sql =
    s"""SELECT o_orderpriority, o_orderkey, quartile FROM (
       |  SELECT o_orderpriority, o_orderkey,
       |    CAST(ntile(4) OVER (PARTITION BY o_orderpriority
       |      ORDER BY ${m4s("o_totalprice")} DESC, o_orderkey)
       |      AS BIGINT) AS quartile
       |  FROM orders)
       |ORDER BY o_orderpriority, quartile, o_orderkey""".stripMargin

  // -- q26: as-of join (latest prior click per purchase) ---------------------
  // Spark has no ASOF JOIN; the idiomatic shuffle-once shape is a tagged
  // union + running `last(..., ignoreNulls)` window — one sort per user,
  // no range explosion. The oracle uses DuckDB's native ASOF JOIN as an
  // independent spec. Clicks sort before purchases at equal microseconds
  // (ASOF's `<=`), and the last click at equal time is the max event_id
  // (mirrored by the oracle's per-(user, us) dedup keeping max id).
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("tag_ord"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .selectExpr("user_id", "event_id", "ts div 1000 AS us", "event_type",
        "CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag_ord")
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), true)
          .over(w))
      .withColumn("click_us",
        last(when(col("event_type") === "click", col("us")), true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("us").as("purchase_us"), col("click_id"), col("click_us"))
      .orderBy(col("user_id"), col("purchase_us"), col("purchase_id"))
  }

  private val q26Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |c AS (SELECT user_id, us, MAX(event_id) AS event_id
      |      FROM e WHERE event_type = 'click' GROUP BY user_id, us),
      |p AS (SELECT user_id, event_id, us FROM e
      |      WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id AS purchase_id, p.us AS purchase_us,
      |  c.event_id AS click_id, c.us AS click_us
      |FROM p ASOF LEFT JOIN c
      |  ON p.user_id = c.user_id AND c.us <= p.us
      |ORDER BY p.user_id, purchase_us, purchase_id""".stripMargin

  // -- q27: range join (events within 60 s after each error) -----------------
  // Spark-side: the bucketed range join — each error probes exactly two
  // 60 s buckets via an equi-join on (user, bucket), so the range
  // predicate only runs inside matching buckets instead of a full
  // per-user cross product. The oracle states the plain inequality join.
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val BucketUs = 60000000L // 60 s
    val ev = table(s, dir, "events")
      .selectExpr("user_id", "event_id", "ts div 1000 AS us")
    val err = table(s, dir, "events")
      .filter(col("event_type") === "error")
      .selectExpr("user_id AS err_user", "event_id AS err_id",
        "ts div 1000 AS err_us")
      .selectExpr("err_user", "err_id", "err_us",
        s"explode(array(err_us div $BucketUs," +
          s" err_us div $BucketUs + 1)) AS bucket")
    err
      .join(ev, col("err_user") === col("user_id")
        && expr(s"us div $BucketUs") === col("bucket")
        && col("us") >= col("err_us")
        && col("us") < col("err_us") + lit(BucketUs))
      .groupBy(col("err_id"), col("err_user"))
      .agg(count(lit(1)).as("n_within_60s"))
      .orderBy(col("err_id"))
  }

  private val q27Sql =
    """SELECT e.event_id AS err_id, e.user_id AS err_user,
      |  COUNT(*) AS n_within_60s
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |      WHERE event_type = 'error') e
      |JOIN (SELECT user_id, epoch_us(ts) AS us FROM events) c
      |  ON c.user_id = e.user_id AND c.us >= e.us
      |  AND c.us < e.us + 60000000
      |GROUP BY err_id, err_user ORDER BY err_id""".stripMargin

  // -- q28: custom typed Aggregator UDAF (weighted mean) ---------------------
  // Quantity-weighted mean price per return flag via graft.functions
  // .WeightedMean — exact scaled-bigint sums inside the buffer (the m4
  // discipline), one double division + HALF_UP round at the end, so the
  // oracle's SQL arithmetic is reproduced bit-for-bit.
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedMean)
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(wavg(col("l_extendedprice"), col("l_quantity"))
        .as("wavg_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  private val q28Sql =
    s"""SELECT l_returnflag,
       |  round((CAST(SUM(${m4s("l_extendedprice * l_quantity")}) AS DOUBLE)
       |           / 10000.0)
       |        / (CAST(SUM(${m4s("l_quantity")}) AS DOUBLE) / 10000.0), 6)
       |    AS wavg_price,
       |  COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q29: custom physical operator — bounded-heap top-k per key ------------
  // graft.plans.TopKPerKey: a native LogicalPlan + SparkStrategy +
  // UnaryExecNode keeping a k-heap per key in one pass (O(n log k), no
  // per-partition full sort) after a single key-clustered exchange. The
  // oracle states the equivalent window+filter, so the custom operator is
  // checked against an independent engine's implementation of the
  // semantics it optimizes.
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val withOrd = table(s, dir, "orders")
      .withColumn("ord4", m4(col("o_totalprice")))
    graft.plans.TopKPerKeyOps
      .topKPerKey(withOrd, 3, "o_custkey", "ord4", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"),
        d2(col("ord4")).as("total_price"))
      .orderBy(col("o_custkey"), col("total_price").desc, col("o_orderkey"))
  }

  private val q29Sql =
    s"""SELECT o_custkey, o_orderkey, ${d2s(m4s("o_totalprice"))} AS total_price
       |FROM (
       |  SELECT o_custkey, o_orderkey, o_totalprice,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY ${m4s("o_totalprice")} DESC, o_orderkey) AS rn
       |  FROM orders)
       |WHERE rn <= 3
       |ORDER BY o_custkey, total_price DESC, o_orderkey""".stripMargin

  // -- q35: optimizer-rule rewrite of the window top-k idiom ------------------
  // The same bounded-heap operator as q29, reached through the PLAIN
  // row_number-plus-filter formulation: graft.plans.WindowTopKRewrite (a
  // Rule[LogicalPlan], injected by GraftExtensions or attached at
  // runtime here) retargets the idiom onto TopKPerKey, so user SQL gets
  // the O(n log k) plan without knowing the operator exists. The oracle
  // is the identical idiom in DuckDB — the rewrite must be semantically
  // invisible. PlanSpec asserts TopKPerKey actually appears.
  private def q35(s: SparkSession, dir: String): DataFrame = {
    graft.plans.WindowTopKRewriteOps.ensureRegistered(s)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("rev4").desc, col("tie"))
    table(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        m4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("rev4"),
        expr("l_orderkey * 8 + l_linenumber").as("tie"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        d2(col("rev4")).as("revenue"), col("rn").cast("bigint").as("rn"))
      .orderBy(col("l_suppkey"), col("rn"))
  }

  private val q35Sql =
    s"""SELECT l_suppkey, l_orderkey, l_linenumber, revenue, rn FROM (
       |  SELECT l_suppkey, l_orderkey, l_linenumber,
       |    ${d2s(m4s("l_extendedprice * (1.0 - l_discount)"))} AS revenue,
       |    CAST(row_number() OVER (PARTITION BY l_suppkey
       |      ORDER BY ${m4s("l_extendedprice * (1.0 - l_discount)")} DESC,
       |        l_orderkey * 8 + l_linenumber) AS BIGINT) AS rn
       |  FROM lineitem)
       |WHERE rn <= 2
       |ORDER BY l_suppkey, rn""".stripMargin

  // -- q30: bounded-memory approximate distinct (KMV sketch UDAF) ------------
  // graft.functions.KmvDistinct: 64 longs of state per group vs
  // COUNT(DISTINCT)'s shuffle of every distinct value — the cardinality
  // shape that survives 100 TB. Hashes are the dedup pack's 60-bit md5
  // prefixes, so the DuckDB oracle states the same k-th order statistic
  // and estimate with list functions; the exact count rides along to
  // show the sketch's error on real data.
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(graft.functions.KmvDistinct)
    table(s, dir, "lineitem")
      .selectExpr("l_returnflag", "l_partkey",
        // fused md5-prefix kernel (see Md5PrefixHash) — same value as
        // the conv(substring(md5(..), 1, 15)) chain in the oracle
        "graft_h64(cast(l_partkey as string)) AS h")
      .groupBy(col("l_returnflag"))
      .agg(kmv(col("h")).as("est_distinct"),
        countDistinct(col("l_partkey")).as("n_exact"))
      .orderBy(col("l_returnflag"))
  }

  private val q30Sql =
    """WITH g AS (
      |  SELECT l_returnflag,
      |    list_sort(list_distinct(list(
      |      CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
      |        AS BIGINT)))) AS hs,
      |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |  CASE WHEN len(hs) < 64 THEN CAST(len(hs) AS DOUBLE)
      |    ELSE round(63.0 * 1152921504606846976.0 / CAST(hs[64] AS DOUBLE), 6)
      |    END AS est_distinct,
      |  n_exact
      |FROM g ORDER BY l_returnflag""".stripMargin

  // -- q31: Bloom-filter runtime join pruning ---------------------------------
  // The runtime-filter pattern (Spark's InjectRuntimeFilter, made
  // explicit and composable): build a 16 KiB Bloom filter over the
  // small join side with graft_bloom_agg, probe it with a codegen'd
  // graft_bloom_contains in a predicate referencing ONLY the fact
  // table's key — Catalyst pushes it below the join into the lineitem
  // scan, so at 100 TB only rows that can possibly join reach the
  // exchange. The filter is semantics-preserving (false positives are
  // re-checked by the join), which is exactly why the DuckDB oracle is
  // the PLAIN join — an independent spec, not a mirror of the bloom.
  private def q31(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").where("o_totalprice > 480000")
      .createOrReplaceTempView("bj_dims")
    table(s, dir, "lineitem").createOrReplaceTempView("bj_lineitem")
    s.sql(
      s"""WITH bloom AS (
         |  SELECT graft_bloom_agg(o_orderkey) AS bits FROM bj_dims)
         |SELECT d.o_orderpriority, COUNT(*) AS n_items,
         |  ${sumMs("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
         |FROM bj_lineitem l JOIN bj_dims d ON l.l_orderkey = d.o_orderkey
         |WHERE graft_bloom_contains((SELECT bits FROM bloom), l.l_orderkey)
         |GROUP BY d.o_orderpriority
         |ORDER BY d.o_orderpriority""".stripMargin)
  }

  private val q31Sql =
    s"""SELECT o.o_orderpriority, COUNT(*) AS n_items,
       |  ${sumMs("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE o.o_totalprice > 480000
       |GROUP BY o.o_orderpriority
       |ORDER BY o.o_orderpriority""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q32_grouping_sets" -> q32 _,
      "q33_range_frame" -> q33 _,
      "q34_ntile" -> q34 _,
      "q31_bloom_join" -> q31 _,
      "q30_kmv_distinct" -> q30 _,
      "q29_topk_per_key" -> q29 _,
      "q25_cube" -> q25 _,
      "q26_asof_join" -> q26 _,
      "q27_range_join" -> q27 _,
      "q28_weighted_mean_udaf" -> q28 _,
      "q01_pricing_summary" -> q01 _,
      "q02_filter_pushdown" -> q02 _,
      "q03_broadcast_join_agg" -> q03 _,
      "q35_topk_rewrite" -> q35 _,
      "q04_multiway_join" -> q04 _,
      "q05_semi_join" -> q05 _,
      "q06_anti_join" -> q06 _,
      "q07_topk" -> q07 _,
      "q08_window_rank" -> q08 _,
      "q09_window_running" -> q09 _,
      "q10_rollup" -> q10 _,
      "q11_intersect" -> q11 _,
      "q12_except" -> q12 _,
      "q13_conditional_agg" -> q13 _,
      "q14_month_agg" -> q14 _,
      "q15_string_funcs" -> q15 _,
      "q16_having" -> q16 _,
      "q17_scalar_subquery" -> q17 _,
      "q18_sessionize" -> q18 _,
      "q19_distinct_agg" -> q19 _,
      "q20_union_agg" -> q20 _,
      "q21_outer_join" -> q21 _,
      "q22_salted_agg" -> q22 _,
      "q23_median" -> q23 _,
      "q24_pivot" -> q24 _
    )

  override val oracles: Map[String, String] = Map(
    "q32_grouping_sets" -> q32Sql,
    "q33_range_frame" -> q33Sql,
    "q34_ntile" -> q34Sql,
    "q31_bloom_join" -> q31Sql,
    "q30_kmv_distinct" -> q30Sql,
    "q29_topk_per_key" -> q29Sql,
    "q25_cube" -> q25Sql,
    "q26_asof_join" -> q26Sql,
    "q27_range_join" -> q27Sql,
    "q28_weighted_mean_udaf" -> q28Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_pushdown" -> q02Sql,
    "q03_broadcast_join_agg" -> q03Sql,
    "q35_topk_rewrite" -> q35Sql,
    "q04_multiway_join" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_topk" -> q07Sql,
    "q08_window_rank" -> q08Sql,
    "q09_window_running" -> q09Sql,
    "q10_rollup" -> q10Sql,
    "q11_intersect" -> q11Sql,
    "q12_except" -> q12Sql,
    "q13_conditional_agg" -> q13Sql,
    "q14_month_agg" -> q14Sql,
    "q15_string_funcs" -> q15Sql,
    "q16_having" -> q16Sql,
    "q17_scalar_subquery" -> q17Sql,
    "q18_sessionize" -> q18Sql,
    "q19_distinct_agg" -> q19Sql,
    "q20_union_agg" -> q20Sql,
    "q21_outer_join" -> q21Sql,
    "q22_salted_agg" -> q22Sql,
    "q23_median" -> q23Sql,
    "q24_pivot" -> q24Sql
  )
}
