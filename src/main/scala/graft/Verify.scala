package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

import graft.Harness.{Failed, Plan}
import graft.sources.StoreRoot

/** Correctness dump: each query's result → `<outDir>/<name>/`
  * parquet, plus `oracle_sql.json` (the DuckDB oracles) and
  * `expected.json` (every query key attempted), for the DuckDB compare
  * in `tools/check.py`. A query that throws leaves no output directory,
  * so the compare counts it as FAIL.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [name,name,...]"
  *
  * Exits 1 if any query failed. The optional third argument filters
  * the run to the named queries (local iteration only).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Harness.session()
    val errors = run(spark, SparkEntry.queries, sfDir, outDir, only)
    spark.stop()
    errors.foreach { case (name, err) =>
      System.err.println(s"[verify] $name failed: $err")
    }
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Write every query (passing `only`, if given) to `outDir`, along with
    * `expected.json` and the matching `oracle_sql.json`. Returns the
    * queries that failed, with their errors. */
  def run(spark: SparkSession,
      queries: Map[String, Plan], sfDir: String, outDir: String,
      only: Option[Set[String]]): Seq[(String, String)] = {
    val attempted = queries.filter { case (name, _) => only.forall(_(name)) }
    Files.createDirectories(Paths.get(outDir))
    val mapper = new ObjectMapper()
    mapper.writeValue(Paths.get(outDir, "expected.json").toFile,
      attempted.keys.toSeq.sorted.toArray)
    val oracle = mapper.createObjectNode()
    SparkEntry.oracleSql.filter { case (k, _) => only.forall(_(k)) }
      .foreach { case (k, sql) => oracle.put(k, sql) }
    mapper.writeValue(Paths.get(outDir, "oracle_sql.json").toFile, oracle)
    val errors = attempted.toSeq.flatMap { case (name, plan) =>
      // a stale directory from an earlier run must not pass for this one
      StoreRoot.deleteRecursively(Paths.get(outDir, name))
      Harness.timed(spark)(plan(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")) match {
        case f: Failed => Some(name -> f.toString)
        case _ => None
      }
    }
    // Harness.timed releases before each query; release the last one's
    // persists too, so a caller's session is left as it was found
    CacheHygiene.release(spark)
    errors
  }
}
