package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Wall clock in epoch milliseconds with nanosecond steps, comparable
  * with the epoch-millisecond times Spark stamps on its listener events.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Spans the benchmark records around each public call it makes into
  * the library. They are kept in memory and written out with the
  * result. Recording is switched per pass (`on`), so one traced run can
  * alternate traced and untraced passes and measure its own overhead.
  * Spans nest by the driver thread's call stack; the benchmark is a
  * closed loop with one driver thread.
  */
final class Tracer {
  import Tracer.SpanRec

  var on = false
  var run = 0
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        recs += SpanRec(id, parent, name, t0, Clock.nowMs, run)
      }
    }

  def toJson: Seq[Map[String, Any]] = recs.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "run" -> s.run)
  }
}

object Tracer {
  final case class SpanRec(id: Int, parent: Int, name: String, start: Double,
                           end: Double, run: Int)
}

/** Records every Spark job and stage while attached: job wall, call
  * site, and per stage the task count, task CPU, run time, the slowest
  * task, shuffle bytes and spill. A job's layer is decided later from
  * `frame`, the first library frame of its call-site stack (the
  * library lives in package `graft`), so jobs submitted from the
  * snapshot commit-writer threads are attributed to the snapshot layer
  * although no benchmark span is open on those threads.
  */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]

  private def libraryFrame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN,
      last.map(_.name).getOrElse(""), last.map(s => libraryFrame(s.details)).getOrElse(""),
      e.stageInfos.map(_.stageId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    s.tasks += 1
    val d = e.taskInfo.duration
    s.taskMs += d
    s.maxTaskMs = math.max(s.maxTaskMs, d)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map { j =>
        Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "site" -> j.site,
          "frame" -> j.frame, "stages" -> j.stages)
      },
      "stages" -> stages.values.toSeq.map { s =>
        Map("id" -> s.id, "tasks" -> s.tasks, "cpu_s" -> s.cpuNs / 1e9,
          "run_s" -> s.runMs / 1e3, "task_s" -> s.taskMs / 1e3,
          "max_task_s" -> s.maxTaskMs / 1e3, "shuffle_read" -> s.shuffleRead,
          "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill)
      })
  }
}

object JobRecorder {
  final case class JobRec(id: Int, start: Double, var end: Double, site: String,
                          frame: String, stages: Seq[Int])
  final class StageAgg(val id: Int) {
    var tasks = 0; var cpuNs = 0L; var runMs = 0L; var taskMs = 0L; var maxTaskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
}
