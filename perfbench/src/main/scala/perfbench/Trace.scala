package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** In-memory spans for the traced run. A span records name, layer, start,
  * end, parent and operation id; nothing is written until [[Trace.json]] is
  * called at the end of the run. While tracing is off every call is a plain
  * pass-through, so timed passes carry no bookkeeping.
  */
final class Tracer(var enabled: Boolean) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var currentOp = -1

  def inOp[T](op: Int)(body: => T): T = {
    currentOp = op
    try body finally currentOp = -1
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), currentOp, name, layer,
        System.nanoTime(), 0L)
      spans += s
      stack.push(s.id)
      try body finally { s.end = System.nanoTime(); stack.pop() }
    }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
      start: Long, var end: Long)
}

/** Stage, task and job records for the traced run. Times are Spark's epoch
  * milliseconds; [[Trace.clock]] maps them onto the spans' nanoTime axis.
  * Each stage and job carries the operation id the harness set as the
  * [[StageRecorder.OpProperty]] local property on the thread that ran the
  * operation (-1 when none: the untimed checks between operations).
  */
final class StageRecorder extends SparkListener {
  import StageRecorder.{StageRec, opOf}

  val stages = mutable.ArrayBuffer.empty[StageRec]
  val jobs = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageOp = mutable.HashMap.empty[(Int, Int), Int]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = opOf(e.properties)
  }
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val taskFailed = mutable.HashMap.empty[(Int, Int), Int]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = (e.stageId, e.stageAttemptId)
    taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (e.taskInfo.failed || e.taskInfo.killed)
      taskFailed(k) = taskFailed.getOrElse(k, 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val k = (i.stageId, i.attemptNumber())
    val submit = i.submissionTime.getOrElse(0L)
    stages += StageRec(i.stageId, i.attemptNumber(), stageOp.remove(k).getOrElse(-1), submit,
      i.completionTime.getOrElse(submit),
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.recordsWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.executorRunTime,
      taskMs.remove(k).map(_.toSeq).getOrElse(Nil),
      taskFailed.remove(k).getOrElse(0))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (opOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (op, start) = jobStart.remove(e.jobId).getOrElse((-1, e.time))
    jobs += ((e.jobId, op, start, e.time))
  }
}

object StageRecorder {
  /** The local property naming the operation a Spark job belongs to. */
  val OpProperty = "perfbench.op"

  def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)

  final case class StageRec(stage: Int, attempt: Int, op: Int, submit: Long, complete: Long,
      inputBytes: Long, inputRows: Long, outputBytes: Long, outputRows: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      gcMs: Long, runMs: Long, taskMs: Seq[Long], failedTasks: Int)
}

object Trace {
  /** The map between the two time axes: the nanoTime at which the epoch
    * millisecond clock turned to the returned millisecond.
    */
  def clock(): (Long, Long) = {
    val ms0 = System.currentTimeMillis()
    var ms = ms0
    var ns = System.nanoTime()
    while (ms == ms0) { ms = System.currentTimeMillis(); ns = System.nanoTime() }
    (ms, ns)
  }

  def json(tracer: Tracer, rec: StageRecorder, clock: (Long, Long)): String = {
    def str(s: String) = Json.str(s)
    val spans = tracer.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${str(s.name)},""" +
        s""""layer":${str(s.layer)},"start":${s.start},"end":${s.end}}"""
    }
    val stages = rec.synchronized(rec.stages.toList).map { s =>
      s"""{"stage":${s.stage},"attempt":${s.attempt},"op":${s.op},""" +
        s""""submit":${s.submit},"complete":${s.complete},""" +
        s""""input_bytes":${s.inputBytes},"input_rows":${s.inputRows},""" +
        s""""output_bytes":${s.outputBytes},"output_rows":${s.outputRows},""" +
        s""""shuffle_read_bytes":${s.shuffleReadBytes},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""spill_bytes":${s.spillBytes},"gc_ms":${s.gcMs},"run_ms":${s.runMs},""" +
        s""""failed_tasks":${s.failedTasks},"task_ms":[${s.taskMs.mkString(",")}]}"""
    }
    val jobs = rec.synchronized(rec.jobs.toList).map { case (id, op, a, b) =>
      s"""{"job":$id,"op":$op,"start":$a,"end":$b}"""
    }
    s"""{"clock":{"epoch_ms":${clock._1},"nano":${clock._2}},""" +
      s""""spans":[${spans.mkString(",")}],"stages":[${stages.mkString(",")}],""" +
      s""""jobs":[${jobs.mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
