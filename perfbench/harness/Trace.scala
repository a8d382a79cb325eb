package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans the benchmark records around its own calls into the program, and
  * per-job Spark counters keyed by the job group set for each span.
  *
  * Spans live in memory and are written out when the run ends. Times are
  * epoch milliseconds (fractional, from `nanoTime` offsets) so they line
  * up with the listener's job submission times. With tracing off, `span`
  * only runs its body: no job group, no record.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  val jobs = new Trace.JobCounters
  if (enabled) sc.addSparkListener(jobs)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      val outerGroup = Option(sc.getLocalProperty(Trace.GroupKey))
      stack = id :: stack
      sc.setJobGroup(s"perfbench-$id", name)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, "")
          case None => sc.clearJobGroup()
        }
        spans.synchronized(spans += Span(id, parent, name, start, end))
      }
    }

  def spansJson: String = spans.synchronized {
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}"""
    }.mkString("[", ",", "]")
  }
}

object Trace {

  /** The local property `SparkContext.setJobGroup` sets. */
  val GroupKey = "spark.jobGroup.id"

  /** Per-job counters: group, submission/end time, stages, tasks, failed
    * tasks, shuffle bytes written, bytes spilled, peak execution memory. */
  final class JobCounters extends SparkListener {
    final class Job(val id: Int, val group: String, val submitMs: Long) {
      var endMs = 0L
      var tasks = 0L
      var failedTasks = 0L
      var shuffleBytes = 0L
      var spillBytes = 0L
      var peakExecBytes = 0L
    }
    private val byJob = mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Trace.GroupKey)))
        .getOrElse("")
      byJob(e.jobId) = new Job(e.jobId, group, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byJob.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jobId <- stageToJob.get(e.stageId); job <- byJob.get(jobId)) {
        job.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) job.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          job.peakExecBytes = math.max(job.peakExecBytes, m.peakExecutionMemory)
        }
      }
    }

    def json: String = synchronized {
      byJob.values.map { j =>
        s"""{"job":${j.id},"group":${Json.str(j.group)},"submit_ms":${j.submitMs},""" +
          s""""end_ms":${j.endMs},"tasks":${j.tasks},"failed_tasks":${j.failedTasks},""" +
          s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes},""" +
          s""""peak_exec_bytes":${j.peakExecBytes}}"""
      }.mkString("[", ",", "]")
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def arr(xs: Iterable[Double]): String = xs.mkString("[", ",", "]")
}
