package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of a traced run. Spans nest workload -> op -> layer
  * call; `layer` names the program module the call enters (builders,
  * model, io, operators, queries) or `bench` for the harness's own work. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      kind: String, startNs: Long, var endNs: Long = -1L) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "layer" -> layer, "kind" -> kind,
    "start_ms" -> startNs / 1e6, "end_ms" -> endNs / 1e6)
}

/** Per-job totals gathered by [[JobListener]]. `span` is the id of the
  * span whose thread submitted the job, or -1 when the submitting thread
  * did not carry the bench's span property (an unattributed job). */
final class JobStats(val jobId: Int, val span: Long, val submitNs: Long) {
  var endNs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var failed = false
  def toMap: Map[String, Any] = Map("job" -> jobId, "span" -> span,
    "submit_ms" -> submitNs / 1e6, "end_ms" -> endNs / 1e6,
    "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs, "shuffle_bytes" -> shuffleBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes,
    "failed" -> failed)
}

/** Attributes every job, stage and task to the span that was open on the
  * submitting thread (read from the job's local properties). */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    val js = new JobStats(e.jobId, span, System.nanoTime())
    js.stages = e.stageIds.size
    jobs.put(e.jobId, js)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { js =>
      js.synchronized {
        js.endNs = System.nanoTime()
        js.failed = e.jobResult != JobSucceeded
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      jid <- Option(stageToJob.get(e.stageId))
      js <- Option(jobs.get(jid))
      m <- Option(e.taskMetrics)
    } js.synchronized {
      js.tasks += 1
      js.runMs += m.executorRunTime
      js.gcMs += m.jvmGCTime
      val info = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime
      js.schedDelayMs += math.max(0L,
        info.duration - busy - info.gettingResultTime)
      js.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      js.inputBytes += m.inputMetrics.bytesRead
      js.inputRecords += m.inputMetrics.recordsRead
      js.outputBytes += m.outputMetrics.bytesWritten
    }
}

/** Span recorder. Disabled, `span` only runs its body; enabled, it times
  * the body, records the span with its parent, and tags every Spark job
  * the body submits with the span id. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var sc: Option[SparkContext] = None
  // one listener per SparkContext: job and stage ids restart with each one
  private val listeners = mutable.ArrayBuffer[JobListener]()
  private def listener: Option[JobListener] = listeners.lastOption

  /** Attach to a (new) SparkContext: spans opened from now on tag its jobs. */
  def attach(ctx: SparkContext): Unit = if (enabled) {
    sc = Some(ctx)
    val l = new JobListener
    listeners += l
    ctx.addSparkListener(l)
  }

  @volatile private var paused = false

  /** Stop recording: no spans, listener detached. */
  def pause(): Unit = if (enabled) {
    paused = true
    for (c <- sc; l <- listener) c.removeSparkListener(l)
  }

  /** Record again after [[pause]]. */
  def resume(): Unit = if (enabled) {
    paused = false
    for (c <- sc; l <- listener) c.addSparkListener(l)
  }

  def span[T](name: String, layer: String, kind: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val outer = stack.get()
      val s = Span(ids.incrementAndGet(), outer.headOption.map(_.id).getOrElse(-1L),
        name, layer, kind, System.nanoTime())
      stack.set(s :: outer)
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanKey)).orNull
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, s.id.toString))
      try body
      finally {
        s.endNs = System.nanoTime()
        spans.add(s)
        stack.set(outer)
        sc.foreach(c => if (!c.isStopped) c.setLocalProperty(Tracer.SpanKey, prevProp))
      }
    }

  def spanRecords: Seq[Map[String, Any]] =
    spans.asScala.toSeq.sortBy(_.id).map(_.toMap)

  def jobRecords: Seq[Map[String, Any]] =
    listeners.toSeq.zipWithIndex.flatMap { case (l, session) =>
      l.jobs.values().asScala.toSeq.sortBy(_.jobId).map(_.toMap + ("session" -> session))
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
