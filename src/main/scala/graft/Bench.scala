package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Harness.{Failed, Ok, Outcome, Query, Row}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. A warmup runs first
  * so JVM/session/codegen initialization isn't billed to the first
  * query.
  *
  * The printed line is kept compact (3-decimal seconds, a headline
  * subset) so it survives a reader that keeps only the output's tail.
  * Every row, full precision, is written to BENCH_DETAIL.json in the
  * working directory, each with a `status` ("ok" or "failed", the
  * latter with its `error`). A failed row gets no time and is left out
  * of the total, and any failed row makes the bench exit 1.
  *
  * Optional args: query names to run (subset), for fast iteration:
  *   sbt "runMain graft.Bench text_ngram_freq dedup_clusters"
  */
object Bench {
  /** A row's timed reps, or the failure that ended them. */
  private type Reps = Either[Failed, Seq[Double]]

  private def reps(o: Outcome): Reps = o match {
    case Ok(sec) => Right(Seq(sec))
    case f: Failed => Left(f)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    val selected: Seq[Query] = SparkEntry.queries.toSeq
      .filter(q => args.isEmpty || args.contains(q._1))
      .map { case (n, plan) => Query(n, plan) }
    val selectedNames = selected.map(_.name).toSet

    def once(row: Row): Reps = reps(Harness.run(spark, sfDir, row))
    def more(prior: Reps, row: Row): Reps =
      prior.flatMap(ts => once(row).map(ts ++ _))
    // Two timed runs per query, report the min (and the mean in the
    // detail file): run 1 pays one-time whole-stage-codegen/JIT compile
    // for that query's plan shape, run 2 is the steady state. Sub-3 s
    // rows get a THIRD rep: that class is where a single JIT/GC tail
    // on one of two draws has repeatedly manufactured false watches;
    // the extra rep costs < 3 s by construction. A failure ends the
    // row's reps.
    def timed(row: Row): Reps = {
      val base = more(once(row), row)
      if (base.exists(_.min < 3.0)) more(base, row) else base
    }
    // Store builds are timed on rows of their own, so the probe rows
    // time what a warm store sustains. Each build runs twice: once
    // under the run's store root (the store every probe reads), once
    // cold under a fresh root (Harness.run) — min-of-two separates
    // ambient interference from a real build regression.
    val buildRuns: Seq[(String, Reps)] = Harness.buildRows
      .filter(_.readers.exists(selectedNames))
      .map { b =>
        b.name -> more(reps(Harness.timed(spark)(b.build(spark, sfDir))), b)
      }
    var runs: Seq[(String, Reps)] =
      buildRuns ++ selected.map(q => q.name -> timed(q))

    // Drift check: diff this run's min times against the PRIOR
    // full-surface snapshot (before overwriting it). A flagged
    // "regression" is usually ambient interference inflating both
    // timed runs of one query, so flagged queries are RE-RUN in a
    // second pass and the min across all runs is what the snapshot
    // records; only a slowdown that survives the re-run is reported
    // (stderr, so the stdout JSON line stays intact). Build rows are
    // excluded: their min is already min-of-two builds.
    val mapper = new ObjectMapper()
    val priorPath = Paths.get("BENCH_DETAIL.json")
    val priorMin: Map[String, Double] =
      if (args.nonEmpty || !Files.exists(priorPath)) Map.empty
      else mapper.readTree(priorPath.toFile).path("queries")
        .properties().asScala
        .flatMap(e => Option(e.getValue.get("min")).filter(_.isNumber)
          .map(m => e.getKey -> m.asDouble))
        .toMap
    def regressions(rs: Seq[(String, Reps)]) = rs.collect {
      case (n, Right(ts)) if priorMin.contains(n) && !n.endsWith("_build") =>
        (n, priorMin(n), ts.min, ts.min - priorMin(n))
    }.filter { case (_, p, mn, d) => d > 0.2 && mn > p * 1.3 }.sortBy(-_._4)
    if (priorMin.nonEmpty) {
      val flagged = regressions(runs).map(_._1).toSet
      if (flagged.nonEmpty) {
        System.err.println(
          s"[bench] re-running ${flagged.size} flagged quer${if (flagged.size == 1) "y" else "ies"} to separate interference from regression")
        val rerun = selected.filter(q => flagged(q.name))
          .map(q => q.name -> timed(q)).toMap
        runs = runs.map { case (n, r) =>
          n -> rerun.get(n).fold(r)(again => r.flatMap(ts => again.map(ts ++ _)))
        }
      }
      val persisting = regressions(runs)
      if (persisting.nonEmpty) {
        System.err.println("[bench] regressions that SURVIVED re-run (real):")
        persisting.take(5).foreach { case (n, p, mn, d) =>
          System.err.println(f"[bench]   $n: $p%.3f -> $mn%.3f s (+$d%.3f)")
        }
      } else System.err.println("[bench] no regressions vs prior snapshot")
    }

    val failed = runs.collect { case (n, Left(f)) => n -> f }
    failed.foreach { case (n, f) => System.err.println(s"[bench] $n failed: $f") }
    val results = runs.collect { case (n, Right(ts)) => n -> ts.min }
    val total = results.map(_._2).sum
    // `floor` is the watch-gating estimate: the min across ALL reps of
    // the row (≥3 for sub-3 s rows, plus any re-run reps), with
    // `spread` (max − min) and `reps` recording how trustworthy that
    // floor draw is. `min` is kept as an alias older tooling reads.
    val detail = mapper.createObjectNode()
      .put("metric", "total").put("value", total).put("unit", "sec")
      .put("agg", "min_of_runs")
    val detailQ = detail.putObject("queries")
    runs.foreach {
      case (n, Right(ts)) => detailQ.putObject(n).put("status", "ok")
        .put("min", ts.min).put("mean", ts.sum / ts.size)
        .put("floor", ts.min).put("spread", ts.max - ts.min)
        .put("reps", ts.size)
      case (n, Left(f)) => detailQ.putObject(n).put("status", "failed")
        .put("error", f.toString)
    }
    detail.put("sf", sfDir)
    // arg-filtered runs must not clobber the full-surface snapshot
    val detailFile =
      if (args.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL_partial.json"
    Files.write(Paths.get(detailFile),
      mapper.writeValueAsString(detail).getBytes("UTF-8"))
    // The driver tail-captures only the last 2000 chars of output; a
    // 76-entry map doesn't fit. Print a headline subset covering every
    // operator family; BENCH_DETAIL.json has all of them.
    val headline = Seq(
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
      "q9_product_profit", "q18_large_orders", "q_topk_per_group",
      "q_events_sessionize", "q_skew_salted", "q_json_extract",
      "etl_pipeline_composite", "etl_scd2_history", "etl_change_combined",
      "text_ngram_freq", "text_quality_score", "text_redact",
      "dedup_exact", "dedup_minhash_lsh", "dedup_clusters",
      "ann_bruteforce", "ann_ivf", "q_asof_join", "q_range_join",
      "sketch_bloom_prefilter", "typed_customer_journey",
      "streaming_sessionize", "contamination_check", "pack_sequences",
      "q2_min_cost_supplier", "sketch_heavy_hitters", "text_pmi",
      "streaming_cms", "sample_weighted", "sketch_hll_distinct",
      "streaming_interval_join", "sketch_kmv_setops", "ann_ivf_pq",
      "sample_quality_mix")
    val compact = results.filter(r => headline.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val failedNames = failed.map(f => "\"" + f._1 + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$compact,"failed":$failedNames,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
