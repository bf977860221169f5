package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-execution counters, summed. */
final class Counts {
  var jobs, stages, tasks, inputRows, inputBytes = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var cpuNs, runMs, gcMs = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def fields: Seq[(String, Double)] = Seq[(String, Long)](
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "input_rows" -> inputRows, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill,
    "executor_cpu_us" -> cpuNs / 1000, "executor_run_ms" -> runMs, "gc_ms" -> gcMs,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs).map { case (k, v) => k -> v.toDouble }
}

/** Counts Spark work through the public listener APIs: a `SparkListener`
  * for jobs, stages, tasks and task metrics, and a
  * `QueryExecutionListener` for Catalyst's phase times
  * (`QueryPlanningTracker.phases`). Work is attributed to the span that
  * was open when it was submitted (the `perfbench.span` local property),
  * and always to the run-wide total. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val total = new Counts
  private val bySpan = mutable.Map.empty[Int, Counts]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def countsOf(span: Int): Seq[Counts] =
    if (span < 0) Seq(total) else Seq(total, bySpan.getOrElseUpdate(span, new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    countsOf(span).foreach(_.jobs += 1)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val span = stageSpan.getOrElse(info.stageId, -1)
    val m = info.taskMetrics
    countsOf(span).foreach { c =>
      c.stages += 1
      c.tasks += info.numTasks
      if (m != null) {
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      // phases are attributed run-wide: the query listener has no span
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      total.analysisMs += ms("analysis")
      total.optimizationMs += ms("optimization")
      total.planningMs += ms("planning")
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def spanCounts(span: Int): Option[Counts] = synchronized(bySpan.get(span))

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = { drain(); synchronized(total.fields.toMap) }
}

object Probe {
  val SpanKey = "perfbench.span"

  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}

/** One traced call: name, start/end (ns), parent span, request id (image
  * or query name) and numeric attributes the call site measured. */
final case class Span(id: Int, name: String, parent: Int, request: String,
    start: Long, var end: Long = 0L,
    attrs: mutable.Map[String, Double] = mutable.Map.empty)

/** Span recorder. Disabled, it only runs the body. Enabled, it keeps every
  * span in memory (written once at the end of the run) and tags Spark
  * jobs with the innermost open span. Single client thread by design. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String, request: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        if (request.nonEmpty) request else stack.headOption.map(_.request).getOrElse(""),
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Probe.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Probe.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** The innermost open span. */
  def current: Option[Span] = stack.headOption

  /** Attach a measured attribute to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)
}
