package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.CacheHygiene

/** One benchmark run of one workload in one JVM.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --cores C --setup-reps R [--inject throw|wrong]
  *
  * Set-up runs `R` times, each in a fresh session and store root: build
  * inputs and standing stores, then run every distinct op once. The
  * last set-up's session then runs the closed loop, one op after the
  * other from this thread, for `S` seconds rounded up to whole rounds
  * (a round runs each distinct op once, so every op is equally common)
  * and to at least the workload's `minOps`.
  * The run writes `result.json` (and, traced, `spans.json`) under the
  * work dir, plus the outputs the checker compares in `check/`.
  * `--inject` makes the second loop op throw or return a wrong result,
  * to prove the check turns red. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dataDir = Paths.get(opt("data")).toAbsolutePath.toString
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    val reps = opt("setup-reps").toInt
    val inject = opt.get("inject")
    val w: Workload = opt("workload") match {
      case "ingest_pipeline" => new IngestWorkload(seed)
      case "iterative_loops" => new IterativeLoops(seed)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = mutable.ArrayBuffer.empty[Double]
    var builds = Map.empty[String, Double]
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (r <- 1 to reps) {
      if (spark != null) {
        spark.stop()
        graft.sources.StoreRoot.deleteRecursively(ctx.work)
      }
      val repDir = Files.createDirectories(work.resolve(s"setup$r"))
      val t0 = System.nanoTime()
      spark = session(cores, repDir)
      ctx = Ctx(spark, new Spans(spark.sparkContext, traced), dataDir, repDir, seed)
      builds = w.prepare(ctx)
      warm ++= w.warmup.map(op => runOp(ctx, w, op, -1, None) + ("rep" -> r))
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    var i = 0
    def more = (System.nanoTime() - start) / 1e9 < seconds || i < w.minOps || i % w.round != 0
    while (more) {
      ops += runOp(ctx, w, w.opAt(i), i, inject.filter(_ => i == 1))
      i += 1
    }
    val peakRssMb = vmHwmKb() / 1024.0
    val loopS = (System.nanoTime() - start) / 1e9

    val extra = mutable.LinkedHashMap.empty[String, Any]
    listener.foreach { l =>
      JobListener.drain(spark.sparkContext, l)
      val layers = Layers.perOp(ctx.spans, l, cores)
      ops.mapInPlace(o => o + ("layers" -> (o("layers").asInstanceOf[Map[String, Double]] ++
        layers.getOrElse(o("span").asInstanceOf[Long], Map.empty))))
      Json.write(work.resolve("spans.json"), Layers.spanRecords(ctx.spans, l))
      extra("kernels") = Kernels.run(spark, dataDir)
        .map(k => k.name -> k.nsPerUnit).toMap
    }
    w.dump(ctx, work.resolve("check"))
    w match {
      case iw: IngestWorkload => extra("batch_bytes") = iw.batchBytes.toSeq
      case _: IterativeLoops =>
        extra("oracle") = IterativeLoops.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    }

    Json.write(work.resolve("result.json"), Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "traced" -> traced, "seconds" -> seconds,
      "setup_s" -> setupS.toSeq, "store_build_s" -> builds,
      "warmup" -> warm.toSeq, "ops" -> ops.toSeq,
      "peak_rss_mb" -> peakRssMb, "loop_s" -> loopS,
      "after_loop_s" -> ((System.nanoTime() - start) / 1e9 - loopS)) ++ extra)
    spark.stop()
  }

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config(graft.sources.StoreRoot.confKey, dir.resolve("stores").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one op inside its root span. A throwing op (or a failing
    * `stage`) is recorded with its error and no digest; its time is
    * recorded but the checker gives failed ops none. */
  private def runOp(ctx: Ctx, w: Workload, op: String, i: Int,
      inject: Option[String]): Map[String, Any] = {
    var out: Option[OpOut] = None
    var error: Option[String] = None
    var root: Spans.Span = null
    try {
      w.stage(ctx, op)
      root = ctx.spans.open(s"op:$op")
      try {
        if (inject.contains("throw")) throw new IllegalStateException("injected failure")
        out = Some(w.run(ctx, op))
      } finally ctx.spans.close(root)
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        CacheHygiene.release(ctx.spark, blocking = true)
    }
    val digest = out.map(_.digest + (if (inject.contains("wrong")) "+wrong" else ""))
    Map("i" -> i, "op" -> op, "ok" -> error.isEmpty, "error" -> error.orNull,
      "t_s" -> Option(root).map(_.seconds).getOrElse(0.0),
      "span" -> Option(root).map(_.id).getOrElse(-1L),
      "digest" -> digest.orNull,
      "rows_in" -> out.map(_.rowsIn).getOrElse(0L),
      "rows_out" -> out.map(_.rowsOut).getOrElse(0L),
      "layers" -> (out.map(_.layers).getOrElse(Map.empty) ++
        out.map(_.plans).getOrElse(Map.empty).map { case (k, v) => s"plans.$k" -> v }))
  }

  private def vmHwmKb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(0.0)
    catch { case _: java.io.IOException => 0.0 }
}
