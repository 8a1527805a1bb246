package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables

/** Typed Dataset API surface (case-class encoders, groupByKey) —
  * where compile-time row types help: multi-field per-group state
  * machines that would be unreadable as expression soup. The typed
  * funnel below scans each customer's time-ordered orders once,
  * tracking a state machine (first/last order, max gap, status runs)
  * — the shape where `mapGroups` beats window-function contortion.
  *
  * Note the scale trade-off, stated honestly: mapGroups materializes
  * each group's rows; groups here are per-customer order lists
  * (bounded, small). For unbounded groups use the expression/window
  * forms elsewhere in this package.
  */
object TypedOps {

  case class OrderRow(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double,
      o_orderdate: java.time.LocalDateTime)

  case class CustomerJourney(
      c_custkey: Long,
      n_orders: Long,
      first_order_ts: java.time.LocalDateTime,
      last_order_ts: java.time.LocalDateTime,
      max_gap_days: Long,
      longest_open_run: Int,
      lifetime_value: Double)

  def journeys(orders: Dataset[OrderRow]): Dataset[CustomerJourney] = {
    import orders.sparkSession.implicits._
    orders.groupByKey(_.o_custkey).mapGroups { (cust, it) =>
      val rows = it.toIndexedSeq.sortBy(r => (r.o_orderdate.toString, r.o_orderkey))
      var maxGap = 0L
      var run = 0
      var bestRun = 0
      var ltv = BigDecimal(0)
      rows.sliding(2).foreach {
        case Seq(a, b) =>
          val gap = java.time.Duration
            .between(a.o_orderdate, b.o_orderdate).toDays
          if (gap > maxGap) maxGap = gap
        case _ =>
      }
      rows.foreach { r =>
        if (r.o_orderstatus == "O") { run += 1; if (run > bestRun) bestRun = run }
        else run = 0
        ltv += BigDecimal(r.o_totalprice).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      }
      CustomerJourney(cust, rows.size, rows.head.o_orderdate,
        rows.last.o_orderdate, maxGap, bestRun, ltv.toDouble)
    }
  }

  /** typed_customer_journey: per-customer order-sequence features via
    * the typed state machine. Oracle reproduces each feature
    * relationally (windows + grouping) — two very different plans,
    * same answer. */
  def typedCustomerJourney(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        $"o_orderdate".cast("timestamp_ntz").as("o_orderdate"))
      .as[OrderRow]
    journeys(orders).toDF()
      .select($"c_custkey", $"n_orders",
        $"first_order_ts", $"last_order_ts", $"max_gap_days",
        $"longest_open_run", $"lifetime_value")
  }

  val typedCustomerJourneySql: String =
    """WITH ordered AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
      |    lag(o_orderdate) OVER w AS prev_ts,
      |    row_number() OVER w
      |      - row_number() OVER (PARTITION BY o_custkey,
      |          CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END ORDER BY o_orderdate, o_orderkey)
      |      AS run_grp
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |runs AS (
      |  SELECT o_custkey, CAST(count(*) AS INT) AS run_len
      |  FROM ordered WHERE o_orderstatus = 'O'
      |  GROUP BY o_custkey, run_grp)
      |SELECT o.o_custkey AS c_custkey,
      |  count(*) AS n_orders,
      |  min(o.o_orderdate) AS first_order_ts,
      |  max(o.o_orderdate) AS last_order_ts,
      |  CAST(coalesce(max(date_diff('day', o.prev_ts, o.o_orderdate)), 0) AS BIGINT)
      |    AS max_gap_days,
      |  coalesce(any_value(r.best_run), 0) AS longest_open_run,
      |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lifetime_value
      |FROM ordered o
      |LEFT JOIN (SELECT o_custkey, CAST(max(run_len) AS INT) AS best_run
      |           FROM runs GROUP BY o_custkey) r
      |  ON o.o_custkey = r.o_custkey
      |GROUP BY o.o_custkey, r.best_run""".stripMargin

  // ---------------------------------------------------------------- cohort
  /** q_cohort: classic retention matrix — customers grouped by
    * first-order month (cohort), counted by months-since-cohort. */
  def qCohort(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
    val firsts = orders.groupBy($"o_custkey")
      .agg(min(date_trunc("month", $"o_orderdate")).as("cohort_month"))
    orders.join(firsts, "o_custkey")
      .groupBy($"cohort_month".cast("timestamp_ntz").as("cohort_month"),
        (months_between(date_trunc("month", $"o_orderdate"), $"cohort_month"))
          .cast("int").as("months_since"))
      .agg(countDistinct($"o_custkey").as("active_customers"),
        count(lit(1)).as("n_orders"))
  }

  val qCohortSql: String =
    """WITH firsts AS (
      |  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort_month
      |  FROM orders GROUP BY o_custkey)
      |SELECT f.cohort_month,
      |  CAST(datediff('month', f.cohort_month,
      |    date_trunc('month', o.o_orderdate)) AS INT) AS months_since,
      |  count(DISTINCT o.o_custkey) AS active_customers,
      |  count(*) AS n_orders
      |FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- histogram
  /** q_histogram: fixed-width value histogram — bucket arithmetic
    * written identically in both engines (no width_bucket, whose edge
    * conventions differ). */
  def qHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucket = floor($"o_totalprice" / 25000.0).cast("int")
    Tables.orders(spark, sfDir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
  }

  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS INT) AS bucket,
      |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("typed_customer_journey", typedCustomerJourney,
      typedCustomerJourneySql),
    QueryDef("q_cohort", qCohort, qCohortSql),
    QueryDef("q_histogram", qHistogram, qHistogramSql))
}
