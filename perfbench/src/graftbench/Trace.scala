package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `op` groups the spans of one benchmark
  * operation; `parent` is 0 for a root span. Times are nanoTime.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      start: Long, var end: Long = 0L)

/** In-memory span recorder for the single client thread. With tracing
  * off, `span` only runs its body, so untraced runs time the same calls
  * without recording anything. Each span's id is set as a Spark job
  * local property, so [[JobLedger]] can attribute jobs to the innermost
  * open span.
  */
final class Tracer(val on: Boolean, sc: => SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var nextOp = 0

  /** Start a new operation; its spans share the returned id. */
  def newOp(): Int = { nextOp += 1; nextOp }

  def span[T](name: String, op: Int = nextOp)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, op, name, open.headOption.fold(0)(_.id),
        System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          open.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

/** SparkListener that keeps the job, stage and task records of a run in
  * memory. Jobs carry the span id their submitting thread had open.
  */
final class JobLedger extends SparkListener {
  import JobLedger._

  val jobs = ArrayBuffer[Job]()
  val stages = ArrayBuffer[Stage]()
  val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .fold(0)(_.toInt)
    jobs += Job(e.jobId, span, e.time, 0L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
      i.completionTime.getOrElse(-1L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

object JobLedger {
  final case class Job(id: Int, span: Int, submit: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submit: Long, complete: Long, tasks: Int)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
}
