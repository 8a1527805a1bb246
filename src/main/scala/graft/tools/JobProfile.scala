package graft.tools

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

import graft.Harness

/** Per-row job/stage profile: attach a listener, run the row the
  * bench's way (Harness.run), and report where the wall went — JVM GC
  * time, SERIAL JOB COUNT, task count, per-job wall, the DRIVER GAPS
  * between jobs (scheduler round-trips, plan analysis, broadcast
  * builds), and the stages whose task count is far below the slot
  * count (row-starved CPU-bound kernels). Build rows rebuild cold on
  * every rep.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.JobProfile q_item_cf 3"
  *   sbt "runMain graft.tools.JobProfile gbt_model_build 2"   # cold builds
  */
object JobProfile {
  private final class Probe extends SparkListener {
    case class Job(id: Int, t0: Long, var t1: Long = 0L,
      var desc: String = "")
    val jobs = mutable.ArrayBuffer.empty[Job]
    val smallStages = mutable.ArrayBuffer.empty[(Int, Int, Double)]
    val stageNames = mutable.ArrayBuffer.empty[String]
    var tasks = 0
    var enabled = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) synchronized {
        val j = Job(e.jobId, e.time)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs += j
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (enabled) synchronized {
        jobs.find(_.id == e.jobId).foreach(_.t1 = e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) synchronized {
        val s = e.stageInfo
        tasks += s.numTasks
        val wall = (s.completionTime.getOrElse(0L) -
          s.submissionTime.getOrElse(0L)) / 1e3
        if (wall > 0.3 && s.numTasks <= 8)
          smallStages += ((s.stageId, s.numTasks, wall))
        if (wall > 0.3)
          stageNames += f"stage${s.stageId}(${s.numTasks}t/$wall%.2fs):" +
            s.name.take(70)
      }
    def reset(): Unit = synchronized {
      jobs.clear(); smallStages.clear(); stageNames.clear(); tasks = 0
    }
    def report(wall: Double): String = synchronized {
      val done = jobs.filter(_.t1 > 0).sortBy(_.t0)
      val jobWall = done.map(j => (j.t1 - j.t0) / 1e3).sum
      // gap = idle driver time between consecutive (serial) jobs;
      // overlapped jobs contribute negative raw deltas, floored at 0
      val gaps = done.sliding(2).collect {
        case mutable.ArrayBuffer(a, b) => math.max(0L, b.t0 - a.t1) / 1e3
      }.sum
      val top = done.sortBy(j => -(j.t1 - j.t0)).take(5).map { j =>
        f"${(j.t1 - j.t0) / 1e3}%.2fs#${j.id}:${j.desc.take(40)}"
      }.mkString(" | ")
      val small = smallStages.sortBy(-_._3).take(5).map {
        case (id, n, w) => f"stage$id:${n}t/$w%.2fs"
      }.mkString(" ")
      f"wall=$wall%.2f jobs=${done.size} tasks=$tasks jobWall=$jobWall%.2f " +
        f"gaps=$gaps%.2f | top: $top | smallStages: $small\n  slow: " +
        stageNames.mkString("\n  slow: ")
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_item_cf").split(",").toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = Harness.session()
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    Harness.warmUp(spark, sfDir)
    def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

    // rep 0 = warmup (codegen/JIT for this plan shape), unreported
    // except as context; build rows run cold per rep (Harness.run)
    probe.enabled = true
    names.map(Harness.row).foreach { row =>
      (0 to reps).foreach { i =>
        probe.reset()
        val g0 = gcMillis
        val out = Harness.run(spark, sfDir, row)
        println(s"[${row.name} rep$i] gc_ms=${gcMillis - g0} " + (out match {
          case Harness.Ok(wall) => probe.report(wall)
          case f: Harness.Failed => s"FAILED $f"
        }))
      }
    }
    spark.stop()
  }
}
