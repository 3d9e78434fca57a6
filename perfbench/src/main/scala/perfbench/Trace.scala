package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch microseconds; `op` is the loop
  * op id (-1 outside the loop), `probe` marks an extra call made only to
  * measure something (never part of an op's wall time). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Option[Long], op: Int, probe: Boolean)

/** In-memory span recorder. Disabled, `span` is a plain call. Spans nest
  * through a stack on the (single) client thread; Spark job and plan-phase
  * spans arrive from the listeners and carry no parent — the rollup
  * attaches them to the innermost client span of their op by time. */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[Long]()
  private var nextId = 0L
  @volatile var op: Int = -1

  private val nano0 = System.nanoTime()
  private val micro0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = micro0 + (System.nanoTime() - nano0) / 1000L

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def span[T](name: String, probe: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption
      stack.push(id)
      val s = nowUs
      try body
      finally {
        stack.pop()
        spans.add(Span(id, name, s, nowUs, parent, op, probe))
      }
    }

  /** a finished interval observed elsewhere (listener bus) */
  def record(name: String, start: Long, end: Long, op: Int): Unit =
    if (enabled) spans.add(Span(newId(), name, start, end, None, op, probe = false))

  def write(path: String): Unit = {
    val w = new PrintWriter(path)
    try spans.asScala.toSeq.sortBy(_.start).foreach(s => w.println(Json.mapper.writeValueAsString(s)))
    finally w.close()
  }
}

/** Spark execution per job, attributed to the loop op through the
  * `perfbench.op` local property the client thread sets. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val jobOp = mutable.Map[Int, (Int, Long)]()
  private val stageOp = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val agg = mutable.Map[Int, mutable.Map[String, Double]]()

  private def add(op: Int, k: String, v: Double): Unit = synchronized {
    val m = agg.getOrElseUpdate(op, mutable.Map[String, Double]().withDefaultValue(0.0))
    m(k) += v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
      .map(_.toInt).getOrElse(-1)
    jobOp(e.jobId) = (op, e.time)
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (op, start) = synchronized(jobOp.remove(e.jobId)).getOrElse((-1, e.time))
    add(op, "jobs", 1)
    tracer.record("exec.job", start * 1000L, e.time * 1000L, op)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val op = synchronized(stageOp.getOrElse(e.stageId, -1))
    val sub = synchronized(stageSubmit.get(e.stageId))
    sub.foreach(s => add(op, "task_wait_ms", math.max(0L, e.taskInfo.launchTime - s).toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = synchronized(stageOp.getOrElse(info.stageId, -1))
    add(op, "stages", 1)
    add(op, "tasks", info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      add(op, "executor_run_ms", m.executorRunTime.toDouble)
      add(op, "executor_cpu_ms", m.executorCpuTime / 1e6)
      add(op, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  /** per-op sums of job/stage/task counters, keyed by op id */
  def perOp: Map[Int, Map[String, Double]] = synchronized(agg.map { case (k, v) => k -> v.toMap }.toMap)
}

/** Catalyst phase times of every executed query, from its planning
  * tracker. Phase times are wall-clock ms; the rollup places them into
  * ops by time. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      tracer.record(s"plan.$phase", s.startTimeMs * 1000L, s.endTimeMs * 1000L, -1)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
