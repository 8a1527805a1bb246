package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.sys.process.{Process, ProcessLogger}
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe,
  EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}

import graft.sources.StoreRoot

/** The one tier-1 pass over every `SparkEntry.queries` plan, shared by
  * EntrySpec (every plan runs), PlanHygieneSpec (plan shapes) and
  * OracleSpec (DuckDB compare): `Verify.run` at sf0.001 under a fresh
  * store root, then `tools/check.py` over its output.
  *
  * Each plan is wrapped so that the frame Verify is about to write is
  * also inspected: its column count is recorded and, for every query
  * but the streaming twins, its optimized plan is walked for
  * unpartitioned windows, non-equi joins and node count. Streaming
  * twins are not walked: building one executes a full micro-batch run
  * whose returned relation is a memory-sink scan.
  *
  * The result is memoized as a `Try`, so each plan runs once per
  * tier-1 run, and a sweep that throws fails all three suites without
  * running again.
  */
object QuerySweep {

  /** `errors` are Verify's failed queries; `nodeCounts` has one entry
    * per walked plan; `checkExit`/`checkLines` are check.py's. */
  final case class Result(
      errors: Seq[(String, String)],
      columns: Map[String, Int],
      unpartitionedWindows: Set[String],
      nonEquiJoins: Set[String],
      nodeCounts: Map[String, Int],
      checkExit: Int,
      checkLines: Seq[String])

  private val memo = mutable.Map.empty[String, Try[Result]]

  /** The sweep over `sf`, run on first call and memoized. */
  def apply(spark: SparkSession, sf: String): Try[Result] =
    synchronized(memo.getOrElseUpdate(sf, Try(run(spark, sf))))

  private def run(spark: SparkSession, sf: String): Result = {
    val columns = mutable.Map.empty[String, Int]
    val windows, nonEqui = mutable.Set.empty[String]
    val nodeCounts = mutable.Map.empty[String, Int]
    def inspect(name: String, df: DataFrame): Unit = {
      columns(name) = df.columns.length
      if (!name.startsWith("streaming_")) {
        val lp = df.queryExecution.optimizedPlan
        val unpartitioned = lp.exists {
          case w: Window => w.partitionSpec.isEmpty
          case _ => false
        }
        val nonEquiJoin = lp.exists {
          case j: Join => !isEqui(j)
          case _ => false
        }
        if (unpartitioned) windows += name
        if (nonEquiJoin) nonEqui += name
        nodeCounts(name) = lp.collect { case n => n }.length
      }
    }
    val wrapped = SparkEntry.queries.map { case (name, plan) =>
      name -> ((s: SparkSession, d: String) => {
        val df = plan(s, d)
        inspect(name, df)
        df
      })
    }
    inTempDirs(spark) { out =>
      val errors = Verify.run(spark, wrapped, sf, out.toString, None)
      val (code, lines) = check(sf, out)
      Result(errors, columns.toMap, windows.toSet, nonEqui.toSet,
        nodeCounts.toMap, code, lines)
    }
  }

  /** Equi = a TOP-LEVEL And-conjunct that is EqualTo/EqualNullSafe.
    * Searching the whole condition would also match an EqualTo nested
    * under Not, so a pure `=!=` join condition (BroadcastNestedLoopJoin
    * at execution) would pass as equi. */
  private def isEqui(j: Join): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    j.condition.exists(c => conjuncts(c).exists(e =>
      e.isInstanceOf[EqualTo] || e.isInstanceOf[EqualNullSafe]))
  }

  /** Runs `body` on a fresh output directory under a fresh store root,
    * deleting the directory afterwards. */
  def inTempDirs[T](spark: SparkSession)(body: Path => T): T =
    Harness.withFreshStoreRoot(spark) {
      val out = Files.createTempDirectory("graft-oracle-out")
      try body(out) finally StoreRoot.deleteRecursively(out)
    }

  /** `tools/check.py` over `out`: (exit code, stdout lines). */
  def check(sf: String, out: Path): (Int, Seq[String]) = {
    val lines = mutable.ArrayBuffer.empty[String]
    val code = Process(Seq("python3", "tools/check.py", sf, out.toString))
      .!(ProcessLogger(lines += _, System.err.println(_)))
    (code, lines.toSeq)
  }
}
