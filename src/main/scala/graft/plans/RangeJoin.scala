package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables

/** Interval (range) join — pairs of rows whose time values fall
  * within a window of each other, per key. Spark plans a raw
  * `|ta-tb| <= W` predicate as a nested-loop join (quadratic per
  * key); the composition here bucketizes time into W-wide cells and
  * turns the range predicate into an EQUI-join on (key, cell):
  * one side is exploded into its cell and the next (2 rows), so any
  * pair within W shares a cell key; an exact filter then removes the
  * false candidates. Shuffle cost is linear in rows, candidate cost
  * quadratic only within a cell — the standard distributed interval-
  * join layout (cf. Spark's own range-join bucketing in Databricks
  * runtime and the interval-join of Flink).
  */
object RangeJoin {

  /** Pairs (a, b) with a.key = b.key, 0 < b.ts - a.ts <= windowSec
    * ("b follows a within W"). Output: key, a/b ids and timestamps. */
  def followsWithin(
      events: DataFrame, keyCol: String, idCol: String, tsCol: String,
      windowSec: Long): DataFrame = {
    val cell = (unix_timestamp(col(tsCol)) / windowSec).cast("long")
    // left side appears in its own cell and the NEXT cell, so every
    // successor within W (which lives in cell or cell+1) co-locates
    val a = events.select(
        col(keyCol).as("k"), col(idCol).as("id_a"), col(tsCol).as("ts_a"),
        explode(array(cell, cell + 1)).as("cell"))
    val b = events.select(
        col(keyCol).as("k"), col(idCol).as("id_b"), col(tsCol).as("ts_b"),
        cell.as("cell"))
    a.join(b, Seq("k", "cell"))
      .filter(col("ts_b") > col("ts_a") &&
        unix_timestamp(col("ts_b")) - unix_timestamp(col("ts_a")) <= windowSec)
      .select(col("k"), col("id_a"), col("ts_a"), col("id_b"), col("ts_b"))
      .distinct() // a pair can co-locate in two cells
  }

  /** q_range_join: event pairs of the same user within 5 minutes —
    * "actions that quickly follow another action". */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame =
    followsWithin(Tables.events(spark, sfDir), "user_id", "event_id", "ts", 300L)
      .select(col("k").as("user_id"), col("id_a").as("event_a"),
        col("ts_a").cast("timestamp_ntz").as("ts_a"),
        col("id_b").as("event_b"),
        col("ts_b").cast("timestamp_ntz").as("ts_b"))

  val qRangeJoinSql: String =
    """SELECT a.user_id, a.event_id AS event_a, a.ts AS ts_a,
      |  b.event_id AS event_b, b.ts AS ts_b
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      |  AND b.ts > a.ts
      |  -- floor() to match Spark's unix_timestamp truncation
      |  -- (a bare ::BIGINT cast would round)
      |  AND CAST(floor(epoch(b.ts)) AS BIGINT)
      |    - CAST(floor(epoch(a.ts)) AS BIGINT) <= 300""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_range_join", qRangeJoin, qRangeJoinSql))
}
