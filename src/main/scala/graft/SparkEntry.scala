package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.plans.{AsOf, AsOfExec, RangeJoin}
import graft.streaming.StreamingTwins

/** One query: its plan builder over `(spark, sfDir)` and the ANSI SQL
  * DuckDB runs on the same parquet tables, whose result `tools/check.py`
  * hash-compares with the plan's. Column names/aliases are identical on
  * both sides (columns are sorted by name before hashing). */
final case class QueryDef(name: String, plan: Harness.Plan, oracle: String)

/** The query surface — see SURVEY.md §2 for the inventory.
  *
  * Each operator module declares its queries once, as a
  * `defs: Seq[QueryDef]` placed after every `…Sql` val it reads (a
  * `val defs` above one would capture a null oracle). Adding a query is
  * one `QueryDef` line in its module; `queries` and `oracleSql` are
  * derived from the one `registry`, so their key sets cannot drift.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** Every module's `defs`, checked once at first access: names are
    * unique and every oracle is set. */
  private val registry: Seq[QueryDef] = {
    val defs = Seq(Analytics.defs, EtlOps.defs, TextOps.defs, DedupOps.defs,
      AnnOps.defs, MultimodalOps.defs, ExtendedAnalytics.defs, AsOf.defs,
      SketchOps.defs, RangeJoin.defs, ClusterOps.defs, TypedOps.defs,
      TpchMore.defs, AsOfExec.defs, StreamingTwins.defs, PipelineOps.defs,
      RelationalMore.defs, DedupMore.defs, TpchFinal.defs, StatsOps.defs,
      WarehouseOps.defs, RetrievalOps.defs, Round9Ops.defs, Round9bOps.defs,
      Round10Ops.defs, Round10bOps.defs, Round12Ops.defs, Round12bOps.defs,
      Round13Ops.defs, Round15Ops.defs, Round16Ops.defs, Round17Ops.defs,
      Round18Ops.defs, Round19Ops.defs).flatten
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    defs.foreach(d => require(d.oracle != null && d.oracle.trim.nonEmpty,
      s"query ${d.name}: null or empty oracle (is its module's `defs` " +
        "declared above the oracle's val?)"))
    defs
  }

  /** Every query's plan builder, by name. */
  val queries: Map[String, Harness.Plan] =
    registry.map(d => d.name -> d.plan).toMap

  /** Every query's DuckDB oracle, by name. */
  val oracleSql: Map[String, String] =
    registry.map(d => d.name -> d.oracle).toMap
}
