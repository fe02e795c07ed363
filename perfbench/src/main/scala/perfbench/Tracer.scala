package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft, plus a listener that
  * records what each span caused.
  *
  * A span is (id, parent, layer, name, start, end); times are seconds
  * since the tracer was created. The id of the innermost open build or
  * sink span rides on the Spark local property [[SpanProperty]], which
  * child threads (Par.build) inherit, so each job is attributed to the
  * span whose thread launched it. Jobs, stages and tasks are kept raw
  * in memory and written out once at the end of the run; run.py does
  * the arithmetic.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val baseUs = Driver.epochMicros()
  private def now(): Double = (Driver.epochMicros() - baseUs) / 1e6
  private def fromMs(ms: Long): Double = (ms * 1000L - baseUs) / 1e6

  private val spans = ArrayBuffer[Span]()
  private val jobs = ArrayBuffer[Job]()
  private val stages = ArrayBuffer[Stage]()
  private val tasks = ArrayBuffer[Task]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  private var tasksStarted = 0L

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = sc.removeSparkListener(this)

  /** Opens a span; build and sink spans also label the jobs launched
    * from this thread (and its children) until the next open.
    */
  def open(name: String, layer: String, parent: Long, label: String): Long =
    synchronized {
      val id = spans.size + 1L
      spans += Span(id, parent, layer, s"$name:$label", now())
      if (layer != "driver") sc.setLocalProperty(SpanProperty, id.toString)
      id
    }

  def close(id: Long): Unit = synchronized {
    val s = spans((id - 1).toInt)
    if (s.end < 0) s.end = now()
    if (s.layer != "driver") sc.setLocalProperty(SpanProperty, null)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)
    jobs += Job(e.jobId, span, fromMs(e.time))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.end = fromMs(e.time)
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.attemptNumber(),
        stageJob.getOrElse(i.stageId, -1),
        fromMs(i.submissionTime.getOrElse(System.currentTimeMillis())))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.find(s => s.id == i.stageId && s.attempt == i.attemptNumber())
        .foreach(_.completed =
          fromMs(i.completionTime.getOrElse(System.currentTimeMillis())))
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    synchronized { tasksStarted += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      m.map(f).getOrElse(0L)
    tasks += Task(e.stageId, fromMs(i.launchTime), fromMs(i.finishTime),
      e.reason == Success,
      metric(_.executorCpuTime) / 1e9,
      metric(_.executorRunTime) / 1e3,
      metric(_.jvmGCTime) / 1e3,
      metric(_.inputMetrics.bytesRead),
      metric(_.inputMetrics.recordsRead),
      metric(_.shuffleReadMetrics.totalBytesRead),
      metric(_.shuffleWriteMetrics.bytesWritten),
      metric(_.diskBytesSpilled))
  }

  /** Waits until every started job and task has reported its end (the
    * listener bus is asynchronous), at most ten seconds; called outside
    * the timed window before the listener is detached.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def settled = synchronized {
      jobs.forall(_.end >= 0) && tasks.size.toLong == tasksStarted
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }

  def toJson(json: ObjectMapper): ObjectNode = synchronized {
    val o = json.createObjectNode()
    val sa = o.putArray("spans")
    spans.foreach { s =>
      val n = sa.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("layer", s.layer)
      n.put("name", s.name); n.put("start", s.start); n.put("end", s.end)
    }
    val ja = o.putArray("jobs")
    jobs.foreach { j =>
      val n = ja.addObject()
      n.put("id", j.id); n.put("span", j.span); n.put("start", j.start)
      n.put("end", j.end); n.put("ok", j.ok)
    }
    val sta = o.putArray("stages")
    stages.foreach { s =>
      val n = sta.addObject()
      n.put("id", s.id); n.put("attempt", s.attempt); n.put("job", s.job)
      n.put("submitted", s.submitted); n.put("completed", s.completed)
    }
    // tasks as rows of a column list, to keep the file compact
    o.putArray("task_columns").addAll(java.util.List.of(
      Seq("stage", "launch", "finish", "ok", "cpu_s", "run_s", "gc_s",
        "input_bytes", "input_records", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes").map(json.getNodeFactory.textNode): _*))
    val ta = o.putArray("tasks")
    tasks.foreach { t =>
      val r = ta.addArray()
      r.add(t.stage); r.add(t.launch); r.add(t.finish); r.add(t.ok)
      r.add(t.cpuS); r.add(t.runS); r.add(t.gcS); r.add(t.inBytes)
      r.add(t.inRecords); r.add(t.shReadBytes); r.add(t.shWriteBytes)
      r.add(t.spillBytes)
    }
    o
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private final case class Span(id: Long, parent: Long, layer: String,
      name: String, start: Double, var end: Double = -1)
  private final case class Job(id: Int, span: Long, start: Double,
      var end: Double = -1, var ok: Boolean = false)
  private final case class Stage(id: Int, attempt: Int, job: Int,
      submitted: Double, var completed: Double = -1)
  private final case class Task(stage: Int, launch: Double, finish: Double,
      ok: Boolean, cpuS: Double, runS: Double, gcS: Double,
      inBytes: Long, inRecords: Long, shReadBytes: Long,
      shWriteBytes: Long, spillBytes: Long)
}
