package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.Tables

/** Round-6 relational additions (SURVEY.md §2.B43-B45, A20).
  *
  * Scale notes:
  *   - `q21_late_supplier` re-expresses TPC-H Q21's double-EXISTS as a
  *     single groupBy over the order key: one shuffle computes, per
  *     order, the distinct-supplier and distinct-late-supplier counts
  *     plus the unique late supplier — the correlated-subquery form
  *     would walk lineitem three times.
  *   - `q_stats_moments` derives stddev/corr from exact decimal power
  *     sums: the partial aggregation is map-side combinable and the
  *     float formula runs once per GROUP, so results are independent
  *     of partitioning and merge order (plain stddev/corr over doubles
  *     is not engine-portable).
  *   - `q_hopping_window` uses Spark's native sliding `window()` —
  *     each event expands to exactly size/slide rows before the
  *     partial agg, so shuffle volume is 4x the GROUP count, not 4x
  *     the data.
  *   - `etl_merge_upsert` is the MERGE INTO shape (the reference's
  *     WRITE_APPEND + current-flag maintenance generalized): one full
  *     outer join on the business key classifies every row as
  *     insert / update / keep.
  */
object RelationalMore {

  // --------------------------------------------------------------- B43
  /** TPC-H Q21 shape (adapted: no l_receiptdate in this schema —
    * "late" = shipped more than 60 days after the order date):
    * suppliers who were the SOLE late shipper on a multi-supplier
    * finalized order, ranked by how often. */
  def q21LateSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
    val ord = Tables.orders(spark, sfDir)
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderdate")
    val flagged = li.join(ord, $"l_orderkey" === $"o_orderkey")
      .withColumn("late", $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
    // two-level agg instead of two COUNT(DISTINCT)s in one pass: the
    // distinct-agg form Expands the joined lineitem 2x before its
    // shuffle; collapsing to (order, supplier) first keeps the shuffle
    // linear and map-side combinable
    val perSupp = flagged.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late").as("late"))
    val perOrder = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when($"late", 1L).otherwise(0L)).as("n_late_supp"),
        max(when($"late", $"l_suppkey")).as("late_supp"))
      .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
    perOrder.groupBy($"late_supp")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select($"s_suppkey", $"s_name")), $"late_supp" === $"s_suppkey")
      .select($"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name")
      .limit(100)
  }

  val q21LateSupplierSql: String =
    """WITH flagged AS (
      |  SELECT l_orderkey, l_suppkey,
      |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F'),
      |per_order AS (
      |  SELECT l_orderkey,
      |    count(DISTINCT l_suppkey) AS n_supp,
      |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp,
      |    max(CASE WHEN late THEN l_suppkey END) AS late_supp
      |  FROM flagged GROUP BY l_orderkey)
      |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM per_order JOIN supplier ON late_supp = s_suppkey
      |WHERE n_supp >= 2 AND n_late_supp = 1
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  // --------------------------------------------------------------- B44
  /** Distribution statistics per return flag — mean / sample stddev /
    * Pearson correlation — computed from exact decimal power sums
    * (n, Σx, Σx², Σy, Σy², Σxy) so the distributed result is
    * bit-portable: the decimal partials merge exactly under any
    * partitioning, and the closed-form float math runs once per group
    * with an expression tree the oracle mirrors verbatim. */
  def qStatsMoments(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = $"l_quantity".cast(DecimalType(14, 2))
    val p = $"l_extendedprice".cast(DecimalType(14, 2))
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(q).cast("double").as("sq"),
        sum(p).cast("double").as("sp"),
        sum(q * q).cast("double").as("sqq"),
        sum(p * p).cast("double").as("spp"),
        sum(q * p).cast("double").as("sqp"))
      .select($"l_returnflag", $"n",
        round($"sq" / $"n", 6).as("mean_qty"),
        round(sqrt(($"sqq" - $"sq" * $"sq" / $"n") / ($"n" - 1)), 6).as("stddev_qty"),
        round(sqrt(($"spp" - $"sp" * $"sp" / $"n") / ($"n" - 1)), 6).as("stddev_price"),
        round(($"sqp" - $"sq" * $"sp" / $"n")
          / sqrt(($"sqq" - $"sq" * $"sq" / $"n") * ($"spp" - $"sp" * $"sp" / $"n")), 6)
          .as("corr_qty_price"))
  }

  val qStatsMomentsSql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sq,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sp,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sqq,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS spp,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sqp
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(sq / n, 6) AS mean_qty,
      |  round(sqrt((sqq - sq * sq / n) / (n - 1)), 6) AS stddev_qty,
      |  round(sqrt((spp - sp * sp / n) / (n - 1)), 6) AS stddev_price,
      |  round((sqp - sq * sp / n)
      |    / sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)), 6) AS corr_qty_price
      |FROM s""".stripMargin

  // --------------------------------------------------------------- B45
  /** Hopping (sliding) window aggregation: 1-hour windows every
    * 15 minutes over the event stream — each event lands in exactly 4
    * windows. Native `window(ts, size, slide)`; the oracle enumerates
    * the same 4 hop starts arithmetically. */
  def qHoppingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("total_value"))
      .select($"window.start".cast("timestamp_ntz").as("hop_start"),
        $"event_type", $"n_events", $"total_value")
  }

  val qHoppingWindowSql: String =
    """SELECT make_timestamp(((epoch_ms(ts) // 900000) - k) * 900000000) AS hop_start,
      |  event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events, range(0, 4) t(k)
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------- A20
  /** MERGE INTO semantics as one full-outer join: a warehouse snapshot
    * (orders through 1997-06-30) merged with a source batch (orders
    * from 1997-01-01, totals repriced 5%). Matched keys update,
    * source-only keys insert, target-only keys keep — every row
    * labeled with its action. At scale both sides shuffle once on the
    * business key (or co-locate for free if bucketed on it). */
  def etlMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, sfDir)
    val target = ord.filter($"o_orderdate" <= lit("1997-06-30").cast("timestamp"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
    val source = ord.filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp"))
      .select($"o_orderkey".as("s_orderkey"), $"o_custkey".as("s_custkey"),
        $"o_orderdate".as("s_orderdate"),
        ($"o_totalprice".cast(DecimalType(14, 2)) * lit(1.05).cast(DecimalType(4, 2)))
          .as("s_totalprice"))
    target.join(source, $"o_orderkey" === $"s_orderkey", "full_outer")
      .select(
        coalesce($"o_orderkey", $"s_orderkey").as("order_key"),
        coalesce($"s_custkey", $"o_custkey").as("cust_key"),
        coalesce($"s_orderdate", $"o_orderdate").cast("timestamp_ntz").as("order_date"),
        coalesce($"s_totalprice".cast("double"), $"o_totalprice").as("total_price"),
        when($"o_orderkey".isNull, "insert")
          .when($"s_orderkey".isNull, "keep")
          .otherwise("update").as("action"))
  }

  val etlMergeUpsertSql: String =
    """WITH target AS (
      |  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
      |  FROM orders WHERE o_orderdate <= TIMESTAMP '1997-06-30'),
      |source AS (
      |  SELECT o_orderkey AS s_orderkey, o_custkey AS s_custkey,
      |    o_orderdate AS s_orderdate,
      |    CAST(o_totalprice AS DECIMAL(14,2)) * 1.05 AS s_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
      |SELECT
      |  coalesce(o_orderkey, s_orderkey) AS order_key,
      |  coalesce(s_custkey, o_custkey) AS cust_key,
      |  coalesce(s_orderdate, o_orderdate) AS order_date,
      |  coalesce(CAST(s_totalprice AS DOUBLE), o_totalprice) AS total_price,
      |  CASE WHEN o_orderkey IS NULL THEN 'insert'
      |       WHEN s_orderkey IS NULL THEN 'keep'
      |       ELSE 'update' END AS action
      |FROM target FULL OUTER JOIN source ON o_orderkey = s_orderkey""".stripMargin

  // --------------------------------------------------------------- B46
  /** TPC-H Q4 shape (adapted lateness as in B43): order-priority
    * distribution of one quarter's orders that had at least one late
    * line. EXISTS = left-semi join. Lateness depends on o_orderdate,
    * so it can't be evaluated on lineitem alone — but the quarter
    * bound IMPLIES a static lineitem bound: o_orderdate >= 1997-07-01
    * and l_shipdate > o_orderdate + 30 days together force
    * l_shipdate > 1997-07-31. That derived predicate is pushed to the
    * lineitem scan (PushedFilters), shrinking the semi-join build side
    * to the possibly-late tail (~85% smaller) before the join runs. */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit("1997-07-01").cast("timestamp")
        && $"o_orderdate" < lit("1997-10-01").cast("timestamp"))
    val late = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_shipdate")
      // statically implied by the orders-side quarter filter + 30-day
      // lateness: every qualifying line ships after July 31
      .filter($"l_shipdate" > lit("1997-07-31").cast("timestamp"))
    val withLate = ord.join(late,
      $"o_orderkey" === $"l_orderkey"
        && $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAYS"),
      "left_semi")
    withLate.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |  AND o_orderdate < TIMESTAMP '1997-10-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------- B47
  /** Distribution-position analytics: percent_rank and cume_dist of
    * every customer's total spend within their market segment.
    * Rank ordering carries a unique tiebreak key so both engines see
    * identical rank sequences. */
  def qPercentRank(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.orders(spark, sfDir)
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DecimalType(14, 2))).cast("double").as("spend"))
    val seg = Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"spend".desc, $"c_custkey")
    spend.join(seg, $"o_custkey" === $"c_custkey")
      .select($"c_mktsegment", $"c_custkey", $"spend",
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
  }

  val qPercentRankSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_mktsegment, c_custkey, spend,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM spend JOIN customer ON o_custkey = c_custkey
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend DESC, c_custkey)""".stripMargin

  // --------------------------------------------------------------- A21
  /** Data-quality routing: every event classified valid/quarantine
    * with a deterministic, ordered reason list — the split a pipeline
    * uses to load clean rows and park the rest for inspection (the
    * reference validates before load; this is that gate as data). */
  def etlQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val reasons = array(
      when($"value" > 300, lit("value_out_of_range")),
      when($"event_type" === "error", lit("error_event")),
      when(get_json_object($"props", "$.k").cast("int") >= 90, lit("bad_props")))
    Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value",
        array_join(filter(reasons, r => r.isNotNull), ";").as("reasons"))
      .withColumn("status",
        when(length($"reasons") > 0, "quarantine").otherwise("valid"))
  }

  val etlQuarantineSql: String =
    """SELECT event_id, event_type, value, reasons,
      |  CASE WHEN len(reasons) > 0 THEN 'quarantine' ELSE 'valid' END AS status
      |FROM (
      |  SELECT event_id, event_type, value,
      |    coalesce(array_to_string(list_filter([
      |      CASE WHEN value > 300 THEN 'value_out_of_range' END,
      |      CASE WHEN event_type = 'error' THEN 'error_event' END,
      |      CASE WHEN json_extract_string(props, '$.k')::INT >= 90 THEN 'bad_props' END
      |    ], r -> r IS NOT NULL), ';'), '') AS reasons
      |  FROM events)""".stripMargin

  // --------------------------------------------------------------- B56
  /** Closed-form simple linear regression per group — price regressed
    * on quantity per return flag: slope, intercept, R². Same
    * distributed-stats discipline as B44: ONE map-side-combinable
    * pass of exact decimal power sums, float math once per group —
    * merge- and partition-order-independent, so the result is
    * bit-stable at any parallelism. The shape `regr_slope/intercept/
    * r2` would take three passes of float accumulation. */
  def qLinreg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val x = $"l_quantity".cast(DecimalType(14, 2))
    val y = $"l_extendedprice".cast(DecimalType(14, 2))
    Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"),
        sum(x * y).cast("double").as("sxy"))
      .select($"l_returnflag", $"n",
        round(($"sxy" - $"sx" * $"sy" / $"n") / ($"sxx" - $"sx" * $"sx" / $"n"), 6)
          .as("slope"),
        round($"sy" / $"n" -
          (($"sxy" - $"sx" * $"sy" / $"n") / ($"sxx" - $"sx" * $"sx" / $"n")) * $"sx" / $"n", 6)
          .as("intercept"),
        round(pow(($"sxy" - $"sx" * $"sy" / $"n"), 2)
          / (($"sxx" - $"sx" * $"sx" / $"n") * ($"syy" - $"sy" * $"sy" / $"n")), 6)
          .as("r2"))
  }

  val qLinregSql: String =
    """WITH s AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS syy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
      |  round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx / n, 6)
      |    AS intercept,
      |  round(pow(sxy - sx * sy / n, 2)
      |    / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
      |FROM s""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_linreg", qLinreg, qLinregSql),
    QueryDef("q21_late_supplier", q21LateSupplier, q21LateSupplierSql),
    QueryDef("q_stats_moments", qStatsMoments, qStatsMomentsSql),
    QueryDef("q_hopping_window", qHoppingWindow, qHoppingWindowSql),
    QueryDef("etl_merge_upsert", etlMergeUpsert, etlMergeUpsertSql),
    QueryDef("q4_order_priority", q4OrderPriority, q4OrderPrioritySql),
    QueryDef("q_percent_rank", qPercentRank, qPercentRankSql),
    QueryDef("etl_quarantine", etlQuarantine, etlQuarantineSql))
}
