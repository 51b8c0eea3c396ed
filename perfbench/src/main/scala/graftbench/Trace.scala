package graftbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Internals

/** One traced interval. Times are microseconds since the epoch; `parent`
  * is 0 for the run's root span. Every span of a run carries its run id
  * when exported. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

/** The harness's own clock and in-memory span store. Client spans are the
  * chain run → pass → op/stage → {build, exec}; the [[Recorder]] adds the
  * Spark-side spans (SQL execution, its Catalyst phases, job, stage). */
final class Spans {
  private val ids = new AtomicLong(0)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.synchronized { buf += s }
  def all: Seq[Span] = buf.synchronized(buf.toList)
}

/** Sums over the tasks of one stage attempt. */
final class TaskAgg {
  var tasks = 0L
  var failed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  def +=(o: TaskAgg): Unit = {
    tasks += o.tasks; failed += o.failed; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; waitMs += o.waitMs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
  }
}

/** Bytes written by tasks. Registered on every run (it is a single sum,
  * not a trace) so the untraced run can report write amplification. */
final class WriteCounter extends SparkListener {
  val bytes = new LongAdder
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.add(e.taskMetrics.outputMetrics.bytesWritten)
}

/** Collects SQL-execution, job and stage spans plus per-stage task sums
  * from the listener bus. Jobs are tied to the client span that was
  * current when they were submitted through the [[Recorder.SpanProp]]
  * local property; SQL executions are tied to the client leaf span whose
  * interval holds their start. `enabled` gates all work, so passes can be
  * timed with the listener attached but idle. */
final class Recorder(modelRoot: Option[String]) extends SparkListener {
  import Recorder._

  @volatile var enabled = true
  /** Nanoseconds spent inside this listener's callbacks. */
  val selfNs = new LongAdder

  private val sqlOpen = mutable.Map.empty[Long, (Long, String, Option[String])]
  private val jobOpen = mutable.Map.empty[Int, (Long, Long, Long, Seq[Int])]
  private val stageAggs = mutable.Map.empty[(Int, Int), TaskAgg]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  val sqls = mutable.ArrayBuffer.empty[Sql]
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]

  // The write command's output path, from its node details in the
  // formatted plan ("(n) Execute InsertIntoHadoopFsRelationCommand" …
  // "Arguments: file:<path>, …"); scans of other models' files also name
  // model paths, so the match starts at the command's own details.
  private val modelPath = modelRoot.map(r => java.util.regex.Pattern.compile(
    "\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: \\S*?" +
      java.util.regex.Pattern.quote(r.stripSuffix("/")) + "/pass\\d+/\\.?([A-Za-z0-9_]+)",
    java.util.regex.Pattern.DOTALL))

  private def timed(f: => Unit): Unit = if (enabled) {
    val t0 = System.nanoTime()
    try synchronized(f) finally selfNs.add(System.nanoTime() - t0)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => timed {
      val text = s.physicalPlanDescription
      val model = modelPath.flatMap { p =>
        val m = p.matcher(text)
        if (m.find()) Some(m.group(1)) else None
      }
      sqlOpen(s.executionId) = (s.time, s.description.take(120), model)
    }
    case e: SparkListenerSQLExecutionEnd => timed {
      sqlOpen.remove(e.executionId).foreach { case (start, desc, model) =>
        val phases: Map[String, (Long, Long)] =
          Internals.queryExecution(e).map(_.tracker.phases.map { case (k, v) =>
            k -> (v.startTimeMs, v.endTimeMs)
          }).getOrElse(Map.empty)
        sqls += Sql(e.executionId, start, e.time, desc, model, phases)
      }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    jobOpen(e.jobId) = (e.time,
      prop(Recorder.SpanProp).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobOpen.remove(e.jobId).foreach { case (start, span, sql, stageIds) =>
      jobs += Job(e.jobId, start, e.time, span, sql, stageIds,
        e.jobResult == JobSucceeded)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val key = (e.stageId, e.stageAttemptId)
    val a = stageAggs.getOrElseUpdate(key, new TaskAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    stageSubmitted.get(key).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val start = stageSubmitted.remove(key).orElse(i.submissionTime).getOrElse(0L)
    stages += Stage(i.stageId, i.attemptNumber(), start,
      i.completionTime.getOrElse(start),
      stageAggs.remove(key).getOrElse(new TaskAgg))
  }
}

object Recorder {
  final case class Sql(id: Long, startMs: Long, endMs: Long, desc: String,
      model: Option[String], phases: Map[String, (Long, Long)])
  final case class Job(id: Int, startMs: Long, endMs: Long, clientSpan: Long,
      sqlId: Long, stageIds: Seq[Int], ok: Boolean)
  final case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long, agg: TaskAgg)

  /** Local property naming the client span a job was submitted under. */
  val SpanProp = "graftbench.span"
}
