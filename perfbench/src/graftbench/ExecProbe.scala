package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

object ExecProbe {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
}

/** What Spark executed for one operation, as the listener saw it. */
final class ExecCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L; var resultBytes = 0L; var peakExecMemBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own SparkListener: counts what Spark executed on behalf
  * of one operation. [[begin]] resets the counters, [[end]] drains the
  * listener bus and returns them. With tracing on, every job and stage
  * also becomes a span under the operation that launched it.
  */
final class ExecProbe(sc: SparkContext, tracer: Tracer) extends SparkListener {
  private var c = new ExecCounters
  // job id -> (start epoch ms, span id, parent span, op)
  private val jobStart = mutable.Map.empty[Int, (Long, Long, Long, Long)]
  private val stageJob = mutable.Map.empty[Int, (Long, Long)] // stage -> (job span, op)

  sc.addSparkListener(this)
  tracer.onEnter = { (span, op) =>
    sc.setLocalProperty(ExecProbe.SpanKey, span.toString)
    sc.setLocalProperty(ExecProbe.OpKey, op.toString)
  }

  def begin(): Unit = synchronized { c = new ExecCounters }

  /** Jobs started so far in the current operation. */
  def peekJobs(): Long = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized(c.jobs)
  }

  def end(): ExecCounters = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized { val out = c; c = new ExecCounters; out }
  }

  /** Union length of the job intervals, in ms. */
  def jobWallMs(k: ExecCounters): Long = {
    val iv = k.jobIntervals.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c.jobs += 1
    // the job span id is reserved now so its stages can point at it
    val id = tracer.reserveId()
    def prop(k: String, default: Long) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(default)
    val op = prop(ExecProbe.OpKey, tracer.currentOp)
    jobStart(e.jobId) = (e.time, id, prop(ExecProbe.SpanKey, tracer.currentSpan), op)
    if (tracer.active) e.stageIds.foreach(s => stageJob(s) = (id, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, id, parent, op) =>
      c.jobIntervals += ((t, e.time))
      tracer.recordAs(id, parent, op, s"job ${e.jobId}",
        tracer.epochToRunMs(t), tracer.epochToRunMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c.stages += 1
    val i = e.stageInfo
    for ((job, op) <- stageJob.remove(i.stageId); s <- i.submissionTime; f <- i.completionTime)
      tracer.recordAs(tracer.reserveId(), job, op, s"stage ${i.stageId}",
        tracer.epochToRunMs(s), tracer.epochToRunMs(f))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.resultBytes += m.resultSize
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }
}
