package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run: spans recorded around calls into the
  * engine's public functions, plus Spark listener and query-execution
  * listener records. Nothing is written until [[snapshot]] at run end.
  *
  * A job is attributed to the span that was open on the submitting thread
  * when the job started: the span id rides in a Spark local property,
  * which Spark copies into every job's properties and into threads the
  * engine creates inside the span. Times are epoch milliseconds.
  */
final class Recorder(spark: SparkSession, val runId: String) {
  import Recorder._

  private val sc = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Int, mutable.Map[String, Double])]] {
    override def initialValue(): List[(Int, mutable.Map[String, Double])] = Nil
  }
  private val lastClosed = new ThreadLocal[Int] { override def initialValue(): Int = -1 }
  private val lateNotes = new java.util.concurrent.ConcurrentHashMap[(Int, String), Double]()
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Runs `body` inside a span. `parent` defaults to the innermost span
    * open on this thread; pass it for work handed to another thread.
    */
  def span[A](name: String, label: String = "", parent: Int = -2)(body: => A): A = {
    val id = ids.incrementAndGet()
    val par = if (parent != -2) parent else current
    val prevProp = sc.getLocalProperty(SpanProperty)
    val attrs = mutable.Map.empty[String, Double]
    val start = nowMs
    open.set((id, attrs) :: open.get())
    sc.setLocalProperty(SpanProperty, id.toString)
    try body
    finally {
      sc.setLocalProperty(SpanProperty, prevProp)
      open.set(open.get().tail)
      lastClosed.set(id)
      spans.add(Span(id, name, label, par, start, nowMs, attrs.toMap))
    }
  }

  /** The innermost span open on this thread (-1 when none). */
  def current: Int = open.get().headOption.fold(-1)(_._1)

  /** Attaches a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    open.get().headOption.foreach { case (_, attrs) => attrs(key) = value }

  /** Attaches a value measured after the fact to the span this thread
    * closed last, so bookkeeping stays outside the span's interval.
    */
  def noteLast(key: String, value: Double): Unit = lateNotes.put((lastClosed.get(), key), value)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(e.jobId, span, e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.failed = e.jobResult != JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
      a.submitted = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      a.launchSum += e.taskInfo.launchTime.toDouble
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      Recorder.this.synchronized { queries += Query(planMs) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  /** Delivers pending listener events, detaches, and returns the trace. */
  def snapshot(): Map[String, Any] = {
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    synchronized {
      Map(
        "run_id" -> runId,
        "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
          "id" -> s.id, "name" -> s.name, "label" -> s.label, "parent" -> s.parent,
          "start" -> s.start, "end" -> s.end,
          "attrs" -> (s.attrs ++ lateNotes.asScala.collect { case ((id, k), v) if id == s.id => k -> v }))),
        "jobs" -> jobs.values.toSeq.sortBy(_.id).map(j => Map(
          "id" -> j.id, "span" -> j.span, "start" -> j.start,
          "end" -> (if (j.end.isNaN) j.start else j.end), "failed" -> j.failed,
          "stages" -> j.stageIds)),
        "stages" -> stages.toSeq.sortBy(_._1).map { case (id, a) => Map(
          "id" -> id, "submitted" -> (if (a.submitted.isNaN) 0.0 else a.submitted),
          "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
          "launch_sum" -> a.launchSum, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
          "gc_ms" -> a.gcMs, "input_bytes" -> a.inputBytes, "output_bytes" -> a.outputBytes,
          "shuffle_write_bytes" -> a.shuffleWriteBytes,
          "shuffle_read_bytes" -> a.shuffleReadBytes, "spill_bytes" -> a.spillBytes) },
        "queries" -> queries.toSeq.map(q => Map("plan_ms" -> q.planMs)))
    }
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, label: String, parent: Int,
      start: Double, end: Double, attrs: Map[String, Double])
  final case class Job(id: Int, span: Int, start: Double, var end: Double,
      stageIds: Seq[Int], var failed: Boolean = false)
  final case class Query(planMs: Double)
  final class StageAgg {
    var submitted: Double = Double.NaN
    var tasks, failedTasks = 0L
    var launchSum = 0.0
    var runMs, cpuNs, gcMs, inputBytes, outputBytes = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  }
}
