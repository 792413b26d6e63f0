package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval at a layer boundary. `parent` is the enclosing span
  * (0 at the root), `op` the closed-loop operation it belongs to. Times are
  * epoch milliseconds for engine spans and nanoTime-derived milliseconds
  * for harness spans; both are mapped onto one clock in [[Tracer]]. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder for the harness's own layer boundaries (an op,
  * each wrapped public call, each DuckDB backend call). Disabled, `span`
  * only runs its body. Engine spans (SQL executions, jobs) come from
  * [[Probe]] and are parented afterwards by interval containment: the
  * benchmark is one closed-loop client, so an engine span belongs to the
  * innermost harness span open over it. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  // epoch ms at nanoTime zero, so harness and listener spans share a clock
  private val epochAtNano =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  var op = 0L

  def nowMs: Double = epochAtNano + System.nanoTime() / 1e6

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      val start = nowMs
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, op, name, start, nowMs)
      }
    }

  def harnessSpans: Seq[Span] = spans.toSeq

  /** Harness spans plus engine spans, each engine span parented to the
    * innermost harness span that contains its interval. */
  def withEngine(engine: Seq[(String, Double, Double)]): Seq[Span] = {
    val own = harnessSpans
    var id = nextId
    own ++ engine.map { case (name, s, e) =>
      val host = own.filter(h => h.startMs <= s && e <= h.endMs + 1.0)
        .sortBy(_.ms).headOption
      id += 1
      Span(id, host.map(_.id).getOrElse(0L), host.map(_.op).getOrElse(0L), name, s, e)
    }
  }
}

object Tracer {
  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }
}

/** A finished SQL execution as seen by the listener. */
final case class Execution(id: Long, description: String, details: String,
                           plan: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  lazy val module: String = CallSite.module(details)
  lazy val scansCsv: Boolean = plan.contains("FileScan csv") || plan.contains("Scan csv")
}

/** Running totals of the engine counters. */
final case class Totals(jobs: Long = 0, tasks: Long = 0, taskCpuNs: Long = 0,
                        schedulerDelayMs: Long = 0, shuffleWrite: Long = 0,
                        shuffleRead: Long = 0, spill: Long = 0, input: Long = 0,
                        output: Long = 0, planningMs: Long = 0, executions: Long = 0)

/** Engine-side counters for the traced run: a SparkListener for jobs,
  * tasks, SQL executions and, from each execution's end event, its
  * planning phases. Everything accumulates in memory; `snapshot` copies
  * the totals so a window is the difference of two snapshots. */
final class Probe extends SparkListener {

  private var t = Totals()
  private val execs = mutable.ArrayBuffer.empty[Execution]
  private val started = mutable.Map.empty[Long, SparkListenerSQLExecutionStart]
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val jobStart = mutable.Map.empty[Int, (Long, Double)]
  private val stageExec = mutable.Map.empty[Int, Long]
  /** execution id → (task CPU ns, records written) */
  private val perExec = mutable.Map.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))

  def snapshot: Totals = synchronized(t)
  def executions: Seq[Execution] = synchronized(execs.toSeq)
  def jobIntervals: Seq[(String, Double, Double)] = synchronized(jobSpans.toSeq)
  def execCpuAndRecords(id: Long): (Long, Long) = synchronized(perExec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageExec(s) = exec)
    jobStart(e.jobId) = (exec, e.time.toDouble)
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (exec, s) =>
      jobSpans += ((s"job:exec$exec", s, e.time.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      val cpu = m.executorCpuTime + m.executorDeserializeCpuTime
      val delay = if (info == null) 0L else math.max(0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      t = t.copy(tasks = t.tasks + 1, taskCpuNs = t.taskCpuNs + cpu,
        schedulerDelayMs = t.schedulerDelayMs + delay,
        shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = t.input + m.inputMetrics.bytesRead,
        output = t.output + m.outputMetrics.bytesWritten)
      val exec = stageExec.getOrElse(e.stageId, -1L)
      val (c, r) = perExec(exec)
      perExec(exec) = (c + cpu, r + m.outputMetrics.recordsWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { started(s.executionId) = s }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      started.remove(x.executionId).foreach { s =>
        execs += Execution(s.executionId, s.description, s.details,
          s.physicalPlanDescription, s.time.toDouble, x.time.toDouble)
        t = t.copy(executions = t.executions + 1,
          planningMs = t.planningMs + org.apache.spark.sql.graftbench.Planning.phasesMs(x))
      }
    }
    case _ =>
  }
}
