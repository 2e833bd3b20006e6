package perfbench

import scala.collection.mutable

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is the span
  * that caused this one (0 for an op's root span) and `trace` is the op. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Execution counters of one op, summed from the listener events of the
  * jobs the op launched. */
final class ExecCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var taskCpuNs = 0L; var gcNs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var outputBytes = 0L; var peakExecMem = 0L
  var skewMax = 0.0
  var planNs = 0L
  var constructJobs = 0L
}

/** The traced run's recorder. A `SparkListener` and a
  * `QueryExecutionListener` collect job, stage, task and planning events;
  * the harness opens op and phase spans around its calls into the program
  * and tags the jobs each phase submits through a local property. Spans
  * stay in memory and are written as JSON lines when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  private var nextId = 1L
  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var op: Option[(Long, Long)] = None // (span id, start)
  private val stack = mutable.Stack.empty[(Long, String, Long)]

  // listener-side state, keyed by job and stage
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long, Long)] // job -> (span, parent, trace, start)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskNs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageStart = mutable.Map.empty[(Int, Int), Long]
  private var counts = new ExecCounts
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def beginOp(label: String): Unit = {
    val id = newId()
    op = Some((id, nowNs))
    counts = new ExecCounts
    jobIntervals.clear()
    stack.clear()
    stack.push((id, label, 0L))
    sc.setLocalProperty(TraceKey, id.toString)
    sc.setLocalProperty(SpanKey, id.toString)
  }

  def phase[A](name: String)(f: => A): A = {
    val (opId, _) = op.get
    val id = newId()
    val parent = stack.top._1
    val start = nowNs
    stack.push((id, name, start))
    sc.setLocalProperty(SpanKey, id.toString)
    sc.setLocalProperty(PhaseKey, name)
    try f
    finally {
      stack.pop()
      synchronized { spans += Span(id, parent, opId, name, start, nowNs) }
      sc.setLocalProperty(SpanKey, parent.toString)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  /** Closes the op: waits for the listener bus to deliver every event the
    * op caused, then returns its execution counters and the union of its
    * job intervals. */
  def endOp(label: String, wallNs: Long): OpTrace = {
    val (opId, start) = op.get
    val end = start + wallNs
    BusDrain.drain(sc)
    synchronized { spans += Span(opId, 0L, opId, label, start, end) }
    sc.setLocalProperty(TraceKey, null)
    sc.setLocalProperty(SpanKey, null)
    op = None
    val jobUnion = unionNs(jobIntervals.toSeq, start, end)
    OpTrace(opId, counts, jobUnion)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val trace = props.flatMap(p => Option(p.getProperty(TraceKey))).map(_.toLong)
    trace.foreach { t =>
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(t)
      jobSpan(e.jobId) = (newId(), parent, t, e.time * 1000000L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      counts.jobs += 1
      // jobs the program launches itself, before the harness's action
      if (props.flatMap(p => Option(p.getProperty(PhaseKey))).exists(_ != "action"))
        counts.constructJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, t, start) =>
      val end = e.time * 1000000L
      spans += Span(id, parent, t, s"job ${e.jobId}", start, end)
      jobIntervals += ((start, end))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageStart(k) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000000L
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      counts.tasks += 1
      counts.taskNs += m.executorRunTime * 1000000L
      counts.taskCpuNs += m.executorCpuTime
      counts.gcNs += m.jvmGCTime * 1000000L
      counts.inputBytes += m.inputMetrics.bytesRead
      counts.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      counts.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      counts.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      counts.outputBytes += m.outputMetrics.bytesWritten
      counts.peakExecMem = math.max(counts.peakExecMem, m.peakExecutionMemory)
      stageTaskNs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val k = (info.stageId, info.attemptNumber())
    stageJob.get(info.stageId).foreach { job =>
      jobSpan.get(job).foreach { case (jobId, _, t, _) =>
        val start = stageStart.getOrElse(k, 0L)
        val end = info.completionTime.getOrElse(System.currentTimeMillis()) * 1000000L
        spans += Span(newId(), jobId, t, s"stage ${info.stageId}", start, end)
      }
      counts.stages += 1
      stageTaskNs.remove(k).filter(_.nonEmpty).foreach { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) counts.skewMax = math.max(counts.skewMax, sorted.last / med)
      }
    }
    stageStart.remove(k)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { if (op.isDefined) counts.planNs += planningNs(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    synchronized { if (op.isDefined) counts.planNs += planningNs(qe) }

  private def planningNs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(p => p.durationMs * 1000000L).sum

  /** Writes the spans as JSON lines. */
  def write(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(s => (s.trace, s.startNs)).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

final case class OpTrace(id: Long, counts: ExecCounts, jobUnionNs: Long)

object Tracer {
  val TraceKey = "perfbench.trace"
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = unionNs(kids.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
      s.id -> (s.durNs - cover)
    }.toMap
  }
}
