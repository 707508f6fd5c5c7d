package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are epoch milliseconds; spans of
  * one operation share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "layer" -> layer, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Counters of one operation, summed over the Spark jobs it started. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var peakExecMem = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var queryExecutions = 0L
  var joinOutputRows, aggInputRows = 0L

  def toMap(wallMs: Double, cores: Int): Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill,
    "peak_exec_mem_bytes" -> peakExecMem,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "query_executions" -> queryExecutions,
    "join_output_rows" -> joinOutputRows, "agg_input_rows" -> aggInputRows,
    "wall_ms" -> wallMs,
    "overhead_share" -> (if (wallMs > 0) 1.0 - taskRunMs / (wallMs * cores) else 0.0))
}

/** Measures the engine from outside: Spark jobs, stages and tasks through a
  * `SparkListener`, Catalyst phases and executed-plan row counts through a
  * `QueryExecutionListener`. Jobs are tagged with the operation that
  * started them through a local property; everything delivered while an
  * operation runs is charged to it. Disabled, it registers nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  private val OpKey = "perfbench.op"
  private val nextId = new AtomicInteger(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  val perOp = mutable.LinkedHashMap.empty[Int, (String, Double, OpCounters)]

  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[Int, OpCounters]()
  // (op, jobId, start, end) and (op, stageId, jobId, start, end), and the
  // finished query executions, recorded by the listener thread
  private val jobRecs = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val stageRecs = mutable.ArrayBuffer.empty[(Int, Int, Int, Long, Long)]
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val qeRecs = mutable.ArrayBuffer.empty[QueryExecution]

  // Jobs of a streaming query run on its own thread, which carries the
  // properties of the thread that started the query; those are charged to
  // the operation open at the time.
  @volatile private var current = 0
  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt).getOrElse(current)
  private def ctr(op: Int): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      ctr(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        jobRecs.synchronized(jobRecs += ((op, e.jobId, t0, e.time)))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageOp.put(e.stageInfo.stageId, opOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val op = stageOp.getOrDefault(si.stageId, 0)
      ctr(op).stages += 1
      for (s <- si.submissionTime; c <- si.completionTime)
        stageRecs.synchronized(stageRecs += ((op, si.stageId,
          stageJob.getOrDefault(si.stageId, -1), s, c)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = ctr(stageOp.getOrDefault(e.stageId, 0))
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qeRecs.synchronized(qeRecs += qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  def newId(): Int = nextId.getAndIncrement()

  /** A span under operation `op`, for `end`'s `children`. */
  def child(op: Int, name: String, layer: String, startMs: Double, endMs: Double): Span =
    Span(newId(), op, op, name, layer, startMs, endMs)

  def record(s: Span): Unit = if (enabled) spans += s

  /** Opens an operation: returns its id and tags jobs started from this
    * thread (and streams started from it) with that id.
    */
  def begin(): Int = {
    val op = nextId.getAndIncrement()
    if (enabled) {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.setLocalProperty(OpKey, op.toString)
      current = op
    }
    op
  }

  /** Closes operation `op` begun at `startMs`: records its span under
    * `parent`, hangs its jobs and stages under the innermost of `children`
    * containing them, and charges the Catalyst phases delivered meanwhile.
    */
  def end(op: Int, parent: Int, name: String, layer: String, startMs: Double,
          children: Seq[Span] = Nil, built: Option[QueryExecution] = None): OpCounters = {
    val endMs = nowMs()
    if (!enabled) return new OpCounters
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.setLocalProperty(OpKey, null)
    current = 0
    spans += Span(op, parent, op, name, layer, startMs, endMs)
    spans ++= children
    val c = Option(counters.remove(op)).getOrElse(new OpCounters)
    val inner = children.sortBy(s => s.endMs - s.startMs)
    def container(t: Double): Int =
      inner.find(s => s.startMs <= t && t <= s.endMs).map(_.id).getOrElse(op)
    val jobSpan = mutable.Map.empty[Int, Int]
    jobRecs.synchronized {
      jobRecs.filter(_._1 == op).foreach { case (_, jobId, t0, t1) =>
        val id = nextId.getAndIncrement()
        jobSpan(jobId) = id
        spans += Span(id, container(t0.toDouble), op, s"job $jobId", "exec", t0, t1)
      }
      jobRecs.filterInPlace(_._1 != op)
    }
    stageRecs.synchronized {
      stageRecs.filter(_._1 == op).foreach { case (_, stageId, jobId, t0, t1) =>
        spans += Span(nextId.getAndIncrement(), jobSpan.getOrElse(jobId, op), op,
          s"stage $stageId", "exec", t0, t1)
      }
      stageRecs.filterInPlace(_._1 != op)
    }
    def phase(qe: QueryExecution, n: String, add: Double => Unit): Unit =
      qe.tracker.phases.get(n).foreach { p =>
        add(p.durationMs.toDouble)
        spans += Span(nextId.getAndIncrement(), container(p.startTimeMs.toDouble), op,
          n, "catalyst", p.startTimeMs, p.endTimeMs)
      }
    // the returned DataFrame was analyzed while it was built; its plan is
    // then optimized and planned again inside the action's own execution
    built.foreach(qe => phase(qe, "analysis", c.analysisMs += _))
    val qes = qeRecs.synchronized { val q = qeRecs.toList; qeRecs.clear(); q }
    qes.foreach { qe =>
      c.queryExecutions += 1
      phase(qe, "analysis", c.analysisMs += _)
      phase(qe, "optimization", c.optimizationMs += _)
      phase(qe, "planning", c.planningMs += _)
      val (j, a) = PlanRows(qe.executedPlan)
      c.joinOutputRows += j
      c.aggInputRows += a
    }
    perOp(op) = (name, endMs - startMs, c)
    c
  }

  def opsJson: Seq[Map[String, Any]] = perOp.toSeq.map { case (id, (n, w, c)) =>
    c.toMap(w, cores) ++ Map("op" -> id, "name" -> n)
  }
}

/** Row counts from the executed plan's SQL metrics: rows out of join
  * nodes, and rows into aggregate nodes.
  */
object PlanRows extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, k: String): Option[Long] = p.metrics.get(k).map(_.value)

  private def rowsInto(p: SparkPlan): Long = p match {
    case s: QueryStageExec => rowsInto(s.plan)
    case e: ShuffleExchangeLike => metric(e, "shuffleRecordsWritten").getOrElse(0L)
    case _ => metric(p, "numOutputRows").getOrElse(
      if (p.children.size == 1) rowsInto(p.children.head) else 0L)
  }

  def apply(plan: SparkPlan): (Long, Long) = {
    var join, agg = 0L
    foreach(plan) { p =>
      val n = p.nodeName
      if (n.endsWith("Join") || n.contains("JoinExec") || n == "CartesianProduct")
        join += metric(p, "numOutputRows").getOrElse(0L)
      else if (n.endsWith("Aggregate") && p.children.size == 1)
        agg += rowsInto(p.children.head)
    }
    (join, agg)
  }
}

/** The top of the span tree, shared by the workloads: run (process launch
  * to end) → setup and workload.
  */
object Trace {
  def close(t: Tracer, launchNs: Long, setupS: Double, wlSpan: Int, wlStartMs: Double,
            workload: String): Unit = {
    val launchMs = launchNs / 1e6
    val run = t.newId()
    t.record(Span(run, 0, 0, "run", "bench", launchMs, t.nowMs()))
    t.record(Span(t.newId(), run, 0, "setup", "bench", launchMs, launchMs + setupS * 1e3))
    t.record(Span(wlSpan, run, 0, workload, "bench", wlStartMs, t.nowMs()))
  }

  def json(t: Tracer, probes: Map[String, Any]): Map[String, Any] =
    if (!t.enabled) Map.empty
    else Map("ops" -> t.opsJson, "spans" -> t.spans.map(_.toMap), "probes" -> probes)
}
