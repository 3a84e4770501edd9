package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are wall-clock epoch nanoseconds
  * so that Catalyst phase times (epoch milliseconds) can be placed on
  * the same axis. Counters are filled from Spark listener events. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
    val label: String, val start: Long) {
  var end: Long = start
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit =
    counters.synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit =
    counters.synchronized { counters(k) = math.max(counters.getOrElse(k, 0.0), v) }
}

/** In-memory span recorder. With tracing off, `span` only runs its
  * body; with tracing on, it opens a span, tags every Spark job started
  * inside it with the span id (a job-local property) and attaches a
  * SparkListener and a QueryExecutionListener that charge job, stage and
  * task counters and Catalyst phases to that span. Events are delivered
  * asynchronously, so counters are complete only after the SparkContext
  * has stopped (stopping drains the listener bus). */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stack = mutable.Stack[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val Prop = "perfbench.span"

  private def nowNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private var sc: SparkContext = null

  def span[A](name: String, op: Int, label: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(ids.incrementAndGet(), name,
        stack.headOption.map(_.id).getOrElse(0), op, label, nowNs)
      spans.put(s.id, s)
      stack.push(s)
      tag()
      try body
      finally {
        s.end = nowNs
        stack.pop()
        tag()
      }
    }

  /** Add to a counter of the innermost open span. */
  def count(k: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.add(k, v))

  private def tag(): Unit =
    Option(sc).foreach(_.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull))

  /** Attach the job listener to a new SparkContext. */
  def attach(context: SparkContext): Unit =
    if (enabled) {
      sc = context
      sc.addSparkListener(jobListener)
      tag()
    }

  /** Attach the Catalyst-phase listener to a session; a session made
    * by `newSession()` starts with no listeners of its own. */
  def attach(session: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) session.listenerManager.register(queryListener)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(spans.get(id.toInt)))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        if (e.stageInfo.submissionTime.isDefined) s.add("stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.add("tasks", 1)
        if (m != null) {
          s.add("task_run_s", m.executorRunTime / 1e3)
          s.add("task_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
          s.max("peak_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
  }

  /** Catalyst phases of every successful action, as child spans of the
    * innermost span whose interval holds the action's planning phase. */
  private val phaseSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        phaseSpans.add((p.startTimeMs * 1000000L, p.endTimeMs * 1000000L, phase))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** All spans, with Catalyst phases resolved into child spans. Call
    * after the last SparkContext has stopped. */
  def finish(): Seq[Span] = {
    val base = spans.values.asScala.toSeq.sortBy(_.id)
    val phases = phaseSpans.asScala.toSeq.flatMap { case (st, en, phase) =>
      // phase times have millisecond resolution: place the end at the
      // middle of its millisecond
      val mid = en + 500000L
      base.filter(s => s.start <= mid && mid <= s.end)
        .sortBy(s => s.end - s.start).headOption.map { p =>
          val c = new Span(ids.incrementAndGet(), s"catalyst.$phase", p.id, p.op, p.label, st)
          c.end = en
          c
        }
    }
    base ++ phases
  }
}
