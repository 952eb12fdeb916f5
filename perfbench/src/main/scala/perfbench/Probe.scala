package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` 0 is the run itself. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** What the Spark side did during one operation (a query phase, a feed,
  * a control op). Filled from listener events only.
  */
final class OpStats {
  var jobs, buildJobs, stages, tasks = 0L
  /** Intervals of the jobs fired outside the build phase. */
  val jobIntervalsMs = ArrayBuffer.empty[(Long, Long)]
  var taskRunMs, taskCpuNs, gcMs = 0L
  var inputB, shuffleReadB, shuffleWriteB, spillB, peakExecMemB = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var mrMatches, mrGroups = 0L
  var codegenCompiles, codegenNs = 0L
  /** Analyzer and optimizer rule time on every thread, build phase too. */
  var rulesNs = 0L

  /** Total time covered by at least one job, in ms. */
  def jobUnionMs: Long = {
    var total = 0L
    var curS, curE = -1L
    jobIntervalsMs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }
}

/** The traced run's recorder: spans in memory plus per-operation Spark
  * statistics from listeners. Disabled, it attaches nothing and every
  * call is a no-op, so untraced runs time the bare program.
  */
final class Probe(spark: SparkSession, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def reserve(): Int = synchronized { val id = nextId; nextId += 1; id }
  def record(id: Int, parent: Int, name: String, kind: String,
      startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty): Unit =
    if (enabled) synchronized {
      spans += Span(id, parent, name, kind, startNs, endNs, attrs)
    }
  def span(parent: Int, name: String, kind: String, startNs: Long,
      endNs: Long, attrs: Map[String, Double] = Map.empty): Int = {
    val id = reserve(); record(id, parent, name, kind, startNs, endNs, attrs); id
  }
  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  // ---- listeners -------------------------------------------------------

  private val SpanProp = "perfbench.span"
  private val PhaseProp = "perfbench.phase"
  @volatile private var current = new OpStats
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Int, Long, Boolean)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private object Plans extends AdaptiveSparkPlanHelper

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      val build =
        props.flatMap(p => Option(p.getProperty(PhaseProp))).contains("build")
      jobSpan.put(e.jobId, (reserve(), parent, e.time, build))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, start, build) =>
        val s = current
        s.jobs += 1
        if (build) s.buildJobs += 1 else s.jobIntervalsMs += ((start, e.time))
        record(id, parent, s"job ${e.jobId}", "job", msToNs(start), msToNs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      current.stages += 1
      val parent = Option(stageJob.get(i.stageId))
        .flatMap(j => Option(jobSpan.get(j))).map(_._1).getOrElse(0)
      for (s <- i.submissionTime; c <- i.completionTime)
        record(reserve(), parent, s"stage ${i.stageId}", "stage",
          msToNs(s), msToNs(c), Map("tasks" -> i.numTasks.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val s = current
        s.tasks += 1
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputB += m.inputMetrics.bytesRead
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMemB = math.max(s.peakExecMemB, m.peakExecutionMemory)
      }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val s = current
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      s.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      s.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      s.planningMs += ms(QueryPlanningTracker.PLANNING)
      Plans.collectWithSubqueries(qe.executedPlan) {
        case p: graft.plans.MatchRecognizeExec => p
      }.foreach { p =>
        p.metrics.get("numMatches").foreach(m => s.mrMatches += m.value)
        p.metrics.get("numGroups").foreach(m => s.mrGroups += m.value)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var cg0, cgNs0, rules0 = 0L

  /** Start attributing listener events to a fresh operation. Jobs the
    * calling thread submits carry `spanId` and `phase` as local properties.
    */
  def begin(spanId: Int, phase: String): Unit = if (enabled) {
    drain()
    current = new OpStats
    cg0 = compiles; cgNs0 = CodeGenerator.compileTime
    rules0 = RuleExecutor.getCurrentMetrics().time
    setPhase(spanId, phase)
  }
  def setPhase(spanId: Int, phase: String): Unit = if (enabled) {
    spark.sparkContext.setLocalProperty(SpanProp, spanId.toString)
    spark.sparkContext.setLocalProperty(PhaseProp, phase)
  }
  /** Close the operation: wait for its listener events, return its stats. */
  def end(): OpStats = {
    if (!enabled) return new OpStats
    drain()
    val s = current
    s.codegenCompiles = compiles - cg0
    s.codegenNs = CodeGenerator.compileTime - cgNs0
    s.rulesNs = RuleExecutor.getCurrentMetrics().time - rules0
    current = new OpStats
    spark.sparkContext.setLocalProperty(SpanProp, null)
    spark.sparkContext.setLocalProperty(PhaseProp, null)
    s
  }
  def drain(): Unit = if (enabled) PerfbenchBridge.drainListeners(spark.sparkContext)

  /** A sample of the JVM's CPU split; `JvmSample.zero` when untraced. */
  def jvmSample(): JvmSample = if (enabled) JvmSample.take() else JvmSample.zero

  def takeProgress(): Seq[StreamingQueryProgress] = {
    drain()
    progress.synchronized { val p = progress.toSeq; progress.clear(); p }
  }

  def detach(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans plus each span kind's total and self time, the per-layer view
    * of the trace. Self time is a span's duration less the part of it that
    * its children cover (children can overlap: parallel stages of a job).
    */
  def traceJson: String = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      var covered, end = 0L
      children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) { covered += b - from; end = b }
        }
      (s.endNs - s.startNs - covered) / 1e6
    }
    val selfByKind = all.groupBy(_.kind).map { case (k, ss) =>
      k -> Map("count" -> ss.size.toDouble,
        "total_ms" -> ss.map(_.durMs).sum,
        "self_ms" -> ss.map(selfMs).sum)
    }
    Json.render(Map(
      "summary" -> selfByKind,
      "spans" -> all.sortBy(_.startNs).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> (s.startNs - anchorNs) / 1e6,
        "dur_ms" -> s.durMs,
        "self_ms" -> selfMs(s),
        "attrs" -> s.attrs))))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
