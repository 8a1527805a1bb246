package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables

/** Relational analytics surface (SURVEY.md §2.B).
  *
  * The reference pipeline's output tables feed BI dashboards
  * (reference README.md:12 — "Data Studio or Tableau"); these are the
  * query shapes such a consumer runs, expressed as declarative Spark
  * plans so Catalyst handles pushdown/pruning/join selection.
  *
  * Determinism-for-oracle conventions (every query here is DuckDB
  * hash-compared by the driver):
  *   - Monetary aggregates are computed in exact DECIMAL arithmetic and
  *     cast to double at the end — both engines then produce the SAME
  *     bits, with no float-summation-order sensitivity.
  *   - Averages are written sum/count over the exact decimal sum.
  *   - Every ORDER BY ... LIMIT has a unique-key tiebreaker so top-k is
  *     a total order in both engines.
  */
object Analytics {

  /** Cast to exact decimal before aggregating: makes sums
    * order-insensitive (hence cluster-reproducible at any parallelism,
    * including 1000 executors) and bit-identical to the DuckDB oracle. */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** B1: pricing summary — multi-aggregate groupBy over the fact table
    * (TPC-H Q1 shape). Scale: single shuffle on a 6-value grouping key,
    * partial aggregation map-side; scan prunes to 9 of 11 columns. */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val one = lit(1).cast(DecimalType(12, 2))
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
          .cast("double").as("sum_disc_price"),
        sum(dec($"l_extendedprice") * (one - dec($"l_discount")) *
            (one + dec($"l_tax"))).cast("double").as("sum_charge"),
        (sum(dec($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec($"l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec($"l_discount")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** B24 (TPC-H Q6 shape): single-scan filtered aggregate — the
    * predicate trio pushes entirely into the parquet scan. */
  def q6ForecastRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(sum(dec($"l_extendedprice") * dec($"l_discount"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q6ForecastRevenueSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** B25 (TPC-H Q12 shape): join + conditional aggregation into
    * priority buckets. */
  def q12ShipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hi = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .groupBy($"l_returnflag")
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  val q12ShipPrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** B26 (TPC-H Q14 shape): conditional revenue ratio — both numerator
    * and denominator exact-decimal, divided once in double. */
  def q14PromoRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val one = lit(1).cast(DecimalType(12, 2))
    val disc = dec($"l_extendedprice") * (one - dec($"l_discount"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), $"l_partkey" === $"p_partkey")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-07-01").cast("timestamp"))
      .agg((lit(100.0) *
        sum(when($"p_type".startsWith("PROMO"), disc)
          .otherwise(lit(0).cast(DecimalType(12, 2)))).cast("double") /
        sum(disc).cast("double")).as("promo_revenue_pct"))
  }

  val q14PromoRevenueSql: String =
    """SELECT 100.0 *
      |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |  AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'""".stripMargin

  /** B30 (TPC-H Q19 shape): disjunctive multi-attribute join
    * predicates — the optimizer must keep the equi-join key join-able
    * and evaluate the OR-of-ANDs as a post-join filter. */
  def q19DiscountedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cond =
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) && $"l_quantity".between(1, 20)) ||
      ($"p_brand" === "Brand#7" && $"p_size".between(1, 25) && $"l_quantity".between(10, 30)) ||
      ($"p_brand" === "Brand#13" && $"p_size".between(1, 35) && $"l_quantity".between(20, 40))
    val one = lit(1).cast(DecimalType(12, 2))
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), $"l_partkey" === $"p_partkey")
      .filter(cond)
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q19DiscountedRevenueSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |    AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  // ---------------------------------------------------------------- B2
  /** 3-way join + agg + deterministic top-N (TPC-H Q3 shape).
    * Scale: customer filter pushed to scan; customer side broadcast
    * into orders; orders⋈lineitem shuffles on the order key; top-10 is
    * a TakeOrderedAndProject (no global sort materialization). */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1998-03-15").cast("timestamp")
    val cust = Tables.customer(spark, sfDir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" > cutoff)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val one = lit(1).cast(DecimalType(12, 2))
    // no broadcast hint on customer: at warehouse scale it is a big
    // table — Catalyst/AQE picks broadcast locally from actual sizes
    li.join(ord.join(cust, $"o_custkey" === $"c_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("revenue"))
      .select($"l_orderkey",
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q3ShippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- B3
  /** 6-way star join (TPC-H Q5 shape): all dims broadcast, the single
    * big fact (lineitem) never shuffles for the dim joins — only the
    * orders⋈lineitem key join and the final small agg shuffle. */
  def q5LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, sfDir).filter($"r_name" === "ASIA")
    val nation = Tables.nation(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, sfDir)
    val one = lit(1).cast(DecimalType(12, 2))
    // broadcast hints only on the guaranteed-small dims (region,
    // nation); customer/supplier scale with the warehouse — AQE decides
    // their join strategy from runtime sizes
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(sup,
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5LocalSupplierSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- B4
  /** Join + agg + deterministic top-k: biggest customers by lifetime
    * order value. Agg BEFORE the join — the join input is one row per
    * customer, not one per order. */
  def qTopCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(sum(dec($"o_totalprice")).cast("double").as("total_spend"),
        count(lit(1)).as("n_orders"))
    perCust.join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"c_mktsegment", $"total_spend", $"n_orders")
      .orderBy($"total_spend".desc, $"c_custkey")
      .limit(20)
  }

  val qTopCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name, c_mktsegment
      |ORDER BY total_spend DESC, c_custkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- B5
  /** Running aggregates per partition key: one shuffle on l_suppkey,
    * in-partition sort only (no global sort), then a streaming window
    * frame — the at-scale shape for cumulative metrics. */
  def qWindowRunning(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // (l_orderkey, l_linenumber) is NOT unique in the driver data at
    // sf0.1 (true duplicate line rows exist) — the ordering must
    // extend through quantity/price/partkey, which IS unique at every
    // SF (verified), or running sums diverge between engines on ties
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_quantity", $"l_extendedprice", $"l_partkey")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, sfDir)
      .select($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber",
        $"l_quantity", $"l_extendedprice", $"l_partkey",
        dec($"l_quantity").as("qty"))
      .withColumn("running_qty", sum($"qty").over(cum).cast("double"))
      .withColumn("line_rank", row_number().over(w))
      .select($"l_suppkey", $"l_shipdate".cast("timestamp_ntz").as("l_shipdate"),
        $"l_orderkey", $"l_linenumber", $"qty".cast("double").as("qty"),
        $"running_qty", $"line_rank")
  }

  val qWindowRunningSql: String =
    """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_qty,
      |  ROW_NUMBER() OVER w AS line_rank
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_suppkey
      |  ORDER BY l_shipdate, l_orderkey, l_linenumber,
      |    l_quantity, l_extendedprice, l_partkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------- B6
  /** Hierarchical rollup: region → nation → (grand total). Partial agg
    * map-side; rollup grouping sets expand in one shuffle. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    val region = Tables.region(spark, sfDir)
    cust.join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(dec($"c_acctbal")).cast("double").as("total_acctbal"))
  }

  val qRollupSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  // ---------------------------------------------------------------- B7
  /** Tumbling time-window aggregation over the event stream (batch
    * twin of the Structured Streaming plan in graft.streaming). */
  def qEventsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(dec($"value")).cast("double").as("total_value"),
        countDistinct($"user_id").as("n_users"))
      .select($"hour".cast("timestamp_ntz").as("hour"), $"event_type",
        $"n_events", $"total_value", $"n_users")
  }

  val qEventsWindowSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- B8
  /** Gap-based sessionization (30-minute inactivity): lag to flag
    * session starts, cumulative sum to number sessions — single
    * shuffle on user_id, linear within partition. */
  def qEventsSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapSec = 30 * 60
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum($"is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_seq")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").cast("timestamp_ntz").as("session_start"),
        max($"ts").cast("timestamp_ntz").as("session_end"))
  }

  val qEventsSessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id, session_seq, COUNT(*) AS n_events,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM numbered GROUP BY user_id, session_seq""".stripMargin

  // ---------------------------------------------------------------- B9
  /** Top-k rows per group — row_number, not a global sort. */
  def qTopkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"p_brand")
      .orderBy($"p_retailprice".desc, $"p_partkey")
    Tables.part(spark, sfDir)
      .withColumn("price_rank", row_number().over(w))
      .filter($"price_rank" <= 3)
      .select($"p_brand", $"price_rank", $"p_partkey", $"p_name", $"p_retailprice")
  }

  val qTopkPerGroupSql: String =
    """SELECT p_brand, price_rank, p_partkey, p_name, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice DESC, p_partkey) AS price_rank
      |  FROM part) WHERE price_rank <= 3""".stripMargin

  // ---------------------------------------------------------------- B10
  /** Semi/anti join semantics (EXISTS / NOT EXISTS): customers with ≥1
    * open ('O') order but no finished ('F') order. Both sides are
    * key-only projections — semi/anti never duplicate or widen rows. */
  def qSemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val open = ord.filter($"o_orderstatus" === "O").select($"o_custkey")
    val finished = ord.filter($"o_orderstatus" === "F").select($"o_custkey")
    cust.join(open, $"c_custkey" === open("o_custkey"), "left_semi")
      .join(finished, $"c_custkey" === finished("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  val qSemiAntiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |AND NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  // ---------------------------------------------------------------- B11
  /** Skew-safe two-stage aggregation: explicit salting. Stage 1 groups
    * on (key, salt) spreading a hot key over N reducers; stage 2
    * combines the partials. Result ≡ plain GROUP BY (that's the
    * oracle), but no single reducer ever sees a whole hot key —
    * the pattern AQE skew-join can't apply to aggregations. */
  def saltedAgg(df: DataFrame, key: Column, value: Column, salts: Int): DataFrame = {
    val partial = df
      .groupBy(key.as("k"), pmod(col("l_orderkey"), lit(salts)).as("__salt"))
      .agg(sum(value).as("partial_sum"), count(lit(1)).as("partial_cnt"))
    partial.groupBy(col("k"))
      .agg(sum(col("partial_sum")).as("s"), sum(col("partial_cnt")).as("n"))
  }

  def qSkewSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    saltedAgg(Tables.lineitem(spark, sfDir), $"l_returnflag",
        dec($"l_quantity"), salts = 8)
      .select(col("k").as("l_returnflag"), col("s").cast("double").as("sum_qty"),
        col("n").as("n_lines"))
      .orderBy(col("l_returnflag"))
  }

  val qSkewSaltedSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q6_forecast_revenue", q6ForecastRevenue, q6ForecastRevenueSql),
    QueryDef("q12_ship_priority", q12ShipPriority, q12ShipPrioritySql),
    QueryDef("q14_promo_revenue", q14PromoRevenue, q14PromoRevenueSql),
    QueryDef("q19_discounted_revenue", q19DiscountedRevenue,
      q19DiscountedRevenueSql),
    QueryDef("q1_pricing_summary", q1PricingSummary, q1PricingSummarySql),
    QueryDef("q3_shipping_priority", q3ShippingPriority, q3ShippingPrioritySql),
    QueryDef("q5_local_supplier", q5LocalSupplier, q5LocalSupplierSql),
    QueryDef("q_top_customers", qTopCustomers, qTopCustomersSql),
    QueryDef("q_window_running", qWindowRunning, qWindowRunningSql),
    QueryDef("q_rollup", qRollup, qRollupSql),
    QueryDef("q_events_window", qEventsWindow, qEventsWindowSql),
    QueryDef("q_events_sessionize", qEventsSessionize, qEventsSessionizeSql),
    QueryDef("q_topk_per_group", qTopkPerGroup, qTopkPerGroupSql),
    QueryDef("q_semi_anti", qSemiAnti, qSemiAntiSql),
    QueryDef("q_skew_salted", qSkewSalted, qSkewSaltedSql))
}
