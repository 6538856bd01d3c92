package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around calls into the engine's public functions, plus a Spark
  * listener that attributes jobs and task counters to the innermost open
  * span. A span tags its jobs with `setJobGroup("pb-<id>")`; the listener
  * maps stages back to that group.
  *
  * Disabled (the untraced run), `span` only runs its body: no job group, no
  * record. Span times are epoch milliseconds on a nanosecond clock, so they
  * line up with the listener's job start and end times.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  case class Span(id: Int, name: String, trace: String, parent: Int,
                        start: Double, var end: Double = Double.NaN)
  case class Job(id: Int, span: Int, start: Long, var end: Long = -1L)
  final class Counters {
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
    var recordsRead = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  @volatile var enabled = false
  @volatile var trace = ""

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val counters = mutable.HashMap.empty[Int, Counters]

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(open.get)
      val s = synchronized {
        val s = Span(spans.size, name, trace, parent.map(_.id).getOrElse(-1), nowMs)
        spans += s
        s
      }
      open.set(s)
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMs
        open.set(parent.orNull)
        parent match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.stripPrefix("pb-").toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s >= 0) {
      jobs(e.jobId) = Job(e.jobId, s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = counters.getOrElseUpdate(s, new Counters)
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Spans, jobs and per-span counters as plain maps for the result file;
    * drains the listener bus first so every finished task is counted. */
  def export(): Map[String, Any] = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    synchronized {
      Map(
        "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
          "trace" -> s.trace, "parent" -> s.parent, "start" -> s.start, "end" -> s.end)),
        "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "span" -> j.span,
          "start" -> j.start, "end" -> j.end)),
        "counters" -> counters.toSeq.map { case (s, c) =>
          s.toString -> Map("tasks" -> c.tasks, "cpu_ns" -> c.cpuNs,
            "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
            "bytes_written" -> c.bytesWritten, "records_read" -> c.recordsRead,
            "task_ms" -> c.taskMs.toSeq)
        }.toMap)
    }
  }
}
