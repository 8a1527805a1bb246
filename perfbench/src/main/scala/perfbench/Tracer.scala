package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark listener for the traced run.
  *
  * A span is a named, timed interval inside an op (the op itself is the
  * root span). While a span is open its id sits in a Spark local
  * property, so every job submitted under it carries the id in its
  * `SparkListenerJobStart.properties`; jobs submitted from threads that
  * did not inherit the property fall back to the innermost span whose
  * interval holds the job's start time. Everything is kept in memory
  * and read after the run.
  *
  * With tracing off, [[Spans]] still times spans (two `nanoTime` calls)
  * but sets no property and no listener is registered. */
final class Spans(sc: SparkContext, traced: Boolean) {
  import Spans._

  private val nextId = new AtomicLong(0)
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  def open(name: String): Span = {
    val id = nextId.incrementAndGet()
    val s = Span(id, stack.headOption.map(_.id),
      stack.headOption.map(_.root).getOrElse(id), name,
      System.currentTimeMillis(), System.nanoTime())
    stack = s :: stack
    all += s
    if (traced) sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.dropWhile(_.id != s.id).drop(1)
    if (traced) sc.setLocalProperty(SpanKey,
      stack.headOption.map(_.id.toString).orNull)
  }

  def byId: Map[Long, Span] = all.iterator.map(s => s.id -> s).toMap

  /** The innermost span open at wall-clock `ms`, if any. */
  def at(ms: Long): Option[Span] =
    all.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(s => (s.startNs, s.id))
}

object Spans {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Option[Long], root: Long,
      name: String, startMs: Long, startNs: Long) {
    var endNs: Long = -1L
    var endMs: Long = Long.MaxValue
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Job, stage and task records per op, fed by the Spark listener bus. */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Spans.SpanKey))).map(_.toLong)
    jobs.put(e.jobId, Job(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    stages.computeIfAbsent(id, _ => Stage(id, stageJob.getOrDefault(id, -1)))
      .attempts += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.computeIfAbsent(e.stageId,
      _ => Stage(e.stageId, stageJob.getOrDefault(e.stageId, -1)))
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object JobListener {
  final case class Job(id: Int, span: Option[Long], startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(id: Int, job: Int) {
    var attempts = 0
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
  }

  /** Blocks until every event posted before this call has reached
    * `l`: runs one tagged sentinel job and waits for its end event. The
    * listener bus delivers events to one listener in posting order. */
  def drain(sc: SparkContext, l: JobListener): Unit = {
    val before = l.jobs.keySet.asScala.toSet
    sc.setLocalProperty(Spans.SpanKey, "-1")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Spans.SpanKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    def sentinelDone = l.jobs.values.asScala.exists(j =>
      !before.contains(j.id) && j.span.contains(-1L) && j.endMs >= 0)
    while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
