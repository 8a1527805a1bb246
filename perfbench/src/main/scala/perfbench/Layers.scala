package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Splits each traced op into per-layer figures from its spans and the
  * jobs, stages and tasks the listener attributed to it. */
object Layers {

  /** Span id a job belongs to: the id it carried, else the innermost
    * span open when it started. */
  private def spanOf(spans: Spans, j: JobListener.Job): Option[Long] =
    j.span.filter(_ > 0).orElse(spans.at(j.startMs).map(_.id))

  /** Root span id → layer figures of that op. */
  def perOp(spans: Spans, l: JobListener, cores: Int): Map[Long, Map[String, Double]] = {
    val byId = spans.byId
    val jobs = l.jobs.values.asScala.toSeq.flatMap(j => spanOf(spans, j).map(j -> _))
    val stagesByJob = l.stages.values.asScala.toSeq.groupBy(_.job)
    val children = spans.all.toSeq.filter(_.parent.nonEmpty).groupBy(_.root)
    spans.all.toSeq.filter(_.parent.isEmpty).map { root =>
      val mine = jobs.filter { case (_, s) => byId.get(s).exists(_.root == root.id) }
      val kids = children.getOrElse(root.id, Nil)
      def spanS(prefix: String) = kids.filter(_.name.startsWith(prefix)).map(_.seconds).sum
      val opJobs = mine.map(_._1)
      val eager = mine.count { case (_, s) => byId(s).name.startsWith("operators.") }
      val st = opJobs.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
      def sum(f: JobListener.Stage => Long) = st.map(f).sum.toDouble
      val wall = root.seconds
      val busy = union(opJobs.map(j => (j.startMs, math.max(j.endMs, j.startMs)))) / 1e3
      root.id -> Map(
        "wall_s" -> wall,
        "operators.build_s" -> spanS("operators."),
        "operators.eager_jobs" -> eager.toDouble,
        "scheduler.jobs" -> opJobs.size.toDouble,
        "scheduler.stages" -> st.map(_.attempts).sum.toDouble,
        "scheduler.tasks" -> sum(_.tasks),
        "scheduler.job_busy_s" -> busy,
        "scheduler.driver_gap_s" -> math.max(0.0, wall - busy),
        "scheduler.slot_busy_ratio" -> sum(_.runMs) / 1e3 / (wall * cores),
        "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
        "executor.run_s" -> sum(_.runMs) / 1e3,
        "executor.gc_s" -> sum(_.gcMs) / 1e3,
        "executor.input_bytes" -> sum(_.inputBytes),
        "executor.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
        "executor.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
        "executor.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "executor.spill_bytes" -> sum(_.spillBytes),
        "sources.merge_s" -> spanS("sources.merge"),
        "sources.current_read_s" -> spanS("sources.current_read"),
        "sources.state_write_s" -> spanS("sources.state_write"),
        "cache.release_s" -> spanS("cache.release"))
    }.toMap
  }

  /** Total length of a set of [start, end] intervals, overlaps counted
    * once. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Every span with its parent and the jobs it caused. */
  def spanRecords(spans: Spans, l: JobListener): Seq[Map[String, Any]] = {
    val jobsBySpan = l.jobs.values.asScala.toSeq
      .flatMap(j => spanOf(spans, j).map(_ -> j.id)).groupMap(_._1)(_._2)
    spans.all.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent.getOrElse(null), "name" -> s.name,
      "start_ms" -> s.startMs, "seconds" -> s.seconds,
      "jobs" -> jobsBySpan.getOrElse(s.id, Nil).sorted))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans
  * and null. */
object Json {
  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, render(v).getBytes(StandardCharsets.UTF_8))
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
