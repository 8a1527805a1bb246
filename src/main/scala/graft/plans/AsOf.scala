package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.Tables

/** As-of (point-in-time) join — an operator Spark's DataFrame API
  * lacks. For each left row, attach the LATEST right row whose time is
  * <= the left row's time, per key (the semantics of DuckDB/kdb ASOF
  * JOIN, Pandas merge_asof).
  *
  * Implementation is the scalable union+window lowering, not a range
  * join: tag both sides, union, then one window per key ordered by
  * (time, side) carrying the last non-null right payload forward.
  * Cost = ONE shuffle on the key + an in-partition sort — no
  * quadratic range expansion, no per-key driver loops; this is the
  * plan you want at 100 TB (a custom SparkPlan could only shave the
  * struct packing). Right-side ties on (key, time) must be resolved
  * by the caller (pass a deduped right) — the window keeps the last
  * row in (time, side, payload) order, which is deterministic only if
  * (key, time) is unique on the right.
  */
object AsOf {

  def join(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame = {
    val leftCols = left.columns
    val rightCols = right.columns
    val l = left.select(
      col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__side"),
      struct(leftCols.map(col).toIndexedSeq: _*).as("__l"),
      lit(null).cast(right.schema).as("__r"))
    val r = right.select(
      col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__side"),
      lit(null).cast(left.schema).as("__l"),
      struct(rightCols.map(col).toIndexedSeq: _*).as("__r"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val outCols =
      leftCols.map(c => col(s"__l.$c").as(c)) ++
        rightCols.map(c => col(s"__match.$c").as(c))
    matched.select(outCols.toIndexedSeq: _*)
  }

  /** q_asof_join: each event joined to the user's latest order at or
    * before the event time. Right side pre-deduped to one row per
    * (custkey, orderdate) — latest orderkey wins — so the as-of match
    * is well-defined (mirrored in the oracle). */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    join(events, orders, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
  }

  val qAsofJoinSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
      |FROM events e
      |ASOF LEFT JOIN o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_asof_join", qAsofJoin, qAsofJoinSql))
}
