package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables

/** Remaining TPC-H query shapes, adapted to the driver schema (which
  * has no partsupp table, no commit/receipt dates, no phone/mfgr
  * columns — each adaptation is noted). Same exact-decimal determinism
  * discipline as [[Analytics]].
  */
object TpchMore {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  private def one = lit(1).cast(DecimalType(12, 2))

  // ---------------------------------------------------------------- Q7
  /** Volume shipping between two nations (Q7 shape): revenue flows
    * supplier-nation → customer-nation by year for one nation pair. */
  def q7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // The cross-side pair disjunction implies n_name ∈ {N1, N2} on
    // EACH side — Catalyst's CNF inference can't derive that through
    // the extra dim hop, so the nation filter is applied manually
    // before the joins and the join order puts the most selective
    // side (supplier, 2/25 of nations) against lineitem FIRST: the
    // orders shuffle then carries ~8% of lineitem, not all of it.
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(spark, sfDir).filter($"n_name".isin(pair: _*))
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(spark, sfDir).filter($"n_name".isin(pair: _*))
      .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(n1), $"s_nationkey" === $"s_nk")
      .select($"s_suppkey", $"supp_nation")
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(n2), $"c_nationkey" === $"c_nk")
      .select($"c_custkey", $"cust_nation")
    Tables.lineitem(spark, sfDir)
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q7VolumeShippingSql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  year(l_shipdate) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- Q8
  /** Market share (Q8 shape): NATION_3-supplied revenue share of each
    * year's total, exact-decimal numerator/denominator. */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sn = Tables.nation(spark, sfDir)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.supplier(spark, sfDir), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(sn), $"s_nationkey" === $"s_nk")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg((sum(when($"supp_nation" === "NATION_3",
          dec($"l_extendedprice") * (one - dec($"l_discount")))
          .otherwise(lit(0).cast(DecimalType(12, 2)))).cast("double") /
        sum(dec($"l_extendedprice") * (one - dec($"l_discount"))).cast("double"))
        .as("mkt_share"))
      .orderBy($"o_year")
  }

  val q8MarketShareSql: String =
    """SELECT year(o_orderdate) AS o_year,
      |  CAST(SUM(CASE WHEN n_name = 'NATION_3'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |  AS mkt_share
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- Q9
  /** Product profit (Q9 shape; no ps_supplycost in this schema — cost
    * proxied as 10% of retail price × quantity, exact decimal). */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sn = Tables.nation(spark, sfDir)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("nation"))
    val cost = dec($"p_retailprice") * dec($"l_quantity") * lit(BigDecimal("0.10")).cast(DecimalType(12, 2))
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.part(spark, sfDir), $"l_partkey" === $"p_partkey")
      .join(Tables.supplier(spark, sfDir), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(sn), $"s_nationkey" === $"s_nk")
      .groupBy($"nation", year($"o_orderdate").as("o_year"))
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")) - cost)
        .cast("double").as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  val q9ProductProfitSql: String =
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
      |    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
      |      * CAST(0.10 AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin

  // ---------------------------------------------------------------- Q10
  /** Returned-item reporting (Q10 shape): top 20 customers by lost
    * revenue from 'R' lineitems in a half-year window. */
  def q10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, sfDir)
      .filter($"l_returnflag" === "R")
      .join(Tables.orders(spark, sfDir)
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1996-07-01").cast("timestamp")),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, sfDir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name", $"c_acctbal")
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q10ReturnedItemsSql: String =
    """SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- Q13
  /** Customer order-count distribution (Q13 shape): LEFT join so
    * zero-order customers land in bucket 0. */
  def q13CustomerDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13CustomerDistributionSql: String =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- Q15
  /** Top supplier (Q15 shape): supplier(s) achieving the maximum
    * quarterly revenue — exact-decimal revenue makes the max-equality
    * join deterministic. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(dec($"l_extendedprice") * (one - dec($"l_discount")))
        .cast("double").as("total_revenue"))
      // rev feeds the max AND the equality join back; persisted (it is
      // supplier-sized) so the filtered lineitem agg runs once —
      // ReuseExchange does not dedupe the two consumers
      .persist()
    val best = rev.agg(max($"total_revenue").as("mx"))
    rev.join(broadcast(best), $"total_revenue" === $"mx")
      .join(Tables.supplier(spark, sfDir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
      |      AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- Q18
  /** Large-quantity orders (Q18 shape): orders whose total quantity
    * exceeds the threshold, with customer detail, top 100. */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, sfDir)
      .groupBy($"l_orderkey")
      .agg(sum(dec($"l_quantity")).cast("double").as("total_qty"))
      .filter($"total_qty" > 150.0)
    big.join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, sfDir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey",
        $"o_orderdate".cast("timestamp_ntz").as("o_orderdate"),
        $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  val q18LargeOrdersSql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 150.0)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- Q22
  /** Dormant high-balance customers (Q22 shape; no phone column —
    * nation-key parity stands in for country-code buckets): customers
    * above the positive-balance average with no orders since 1999. */
  def q22DormantValue(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, sfDir)
    val avgBal = cust.filter($"c_acctbal" > 0)
      .agg((sum(dec($"c_acctbal")).cast("double") / count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("1999-01-01").cast("timestamp"))
      .select($"o_custkey".as("c_custkey")).distinct()
    cust.crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .join(recent, Seq("c_custkey"), "left_anti")
      .groupBy(($"c_nationkey" % 5).as("cntry_grp"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec($"c_acctbal")).cast("double").as("totacctbal"))
      .orderBy($"cntry_grp")
  }

  val q22DormantValueSql: String =
    """SELECT c_nationkey % 5 AS cntry_grp, count(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |  FROM customer WHERE c_acctbal > 0)
      |AND NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q7_volume_shipping", q7VolumeShipping, q7VolumeShippingSql),
    QueryDef("q8_market_share", q8MarketShare, q8MarketShareSql),
    QueryDef("q9_product_profit", q9ProductProfit, q9ProductProfitSql),
    QueryDef("q10_returned_items", q10ReturnedItems, q10ReturnedItemsSql),
    QueryDef("q13_customer_distribution", q13CustomerDistribution,
      q13CustomerDistributionSql),
    QueryDef("q15_top_supplier", q15TopSupplier, q15TopSupplierSql),
    QueryDef("q18_large_orders", q18LargeOrders, q18LargeOrdersSql),
    QueryDef("q22_dormant_value", q22DormantValue, q22DormantValueSql))
}
