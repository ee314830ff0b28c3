package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark counters of one job group (or of the whole run). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]

  def snapshot: (Long, Long, Long, Long) = synchronized((jobs, tasks, shuffleWriteBytes, spillBytes))
}

/** The one listener of a run: assigns jobs and task metrics to the job
  * group that was set when the job started, and keeps a run-wide total.
  * Task durations are kept only while `keepTaskTimes` is on (tracing).
  */
final class GroupListener extends SparkListener {
  @volatile var keepTaskTimes = false
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, Counters]()
  val total = new Counters

  def group(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.synchronized(total.jobs += 1)
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      val c = group(g)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      def add(c: Counters): Unit = c.synchronized {
        c.tasks += 1
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (keepTaskTimes) c.taskMs += e.taskInfo.duration
      }
      add(total)
      val g = stageGroup.get(e.stageId)
      if (g != null) add(group(g))
    }
  }
}

/** Spans over calls into the engine. A span sets its own Spark job group
  * for its duration, so the listener can charge the span's jobs and tasks
  * to it; on exit the parent's group is restored. Spans stay in memory and
  * are rendered when the run ends. While the tracer is off, `span` only
  * runs its body: no span, no job group, no task times.
  */
final class Tracer(sc: SparkContext, val listener: GroupListener) {
  final case class Span(id: Int, name: String, parent: Int, group: String,
                        start: Long, var end: Long = 0L)

  private val origin = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private var on = false
  def enabled: Boolean = on
  def enabled_=(b: Boolean): Unit = {
    on = b
    listener.keepTaskTimes = b
  }

  def span[A](name: String)(f: => A): A = if (!on) f else {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      s"perfbench-${spans.size}", System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name)
    try f
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Seconds of a finished span. */
  def secs(s: Span): Double = (s.end - s.start) / 1e9

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self counters of a span's own job group (children set their own). */
  def counters(s: Span): Counters = listener.group(s.group)

  /** All spans with start/end/self time and their Spark counters. */
  def render(): Seq[Map[String, Any]] = {
    val childMs = new Array[Double](spans.size)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += (s.end - s.start) / 1e6)
    spans.toSeq.map { s =>
      val c = counters(s)
      val times = c.synchronized(c.taskMs.toArray.sorted)
      val durMs = (s.end - s.start) / 1e6
      Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job_group" -> s.group,
        "start_ms" -> (s.start - origin) / 1e6, "end_ms" -> (s.end - origin) / 1e6,
        "dur_ms" -> durMs, "self_ms" -> (durMs - childMs(s.id)),
        "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_ms_p50" -> (if (times.isEmpty) 0L else times(times.length / 2)),
        "task_ms_max" -> (if (times.isEmpty) 0L else times.last),
        "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
        "spill_mb" -> c.spillBytes / 1e6)
    }
  }
}
