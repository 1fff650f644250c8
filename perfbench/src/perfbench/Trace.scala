package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: an operation, one of its phases,
  * a pipeline stage. Spans of one operation share its `op` id; `parent`
  * is the enclosing span's id (0 = the run). Times are epoch ms, so the
  * scheduler's own event timestamps fall into them. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    kind: String, startMs: Long, endMs: Long, durS: Double)

/** In-memory span recorder. Always on: the untraced run records the same
  * few spans per operation (that is how it times them); only the
  * [[Tracer]] listeners are extra in the traced run. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var next = 1

  def time[A](parent: Int, op: Int, name: String, kind: String)(
      body: Int => A): (A, Span) = {
    val id = next; next += 1
    val s0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    val a = body(id)
    val sp = Span(id, parent, op, name, kind, s0, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
    all += sp
    (a, sp)
  }
}

/** The traced run's listeners, registered from the benchmark: scheduler
  * events (jobs, stages, tasks with their metrics) and every executed
  * query's Catalyst planning phases. Events are kept raw with their own
  * timestamps and attributed to spans after [[flush]], because listener
  * delivery is asynchronous. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long)
  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long,
      result: Long)
  final case class Qe(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Long] // completion times
  val tasks = ArrayBuffer.empty[Task]
  val qes = ArrayBuffer.empty[Qe]
  @volatile private var flushed = false
  private val Marker = "perfbench-flush-marker"

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
      m.peakExecutionMemory, m.resultSize)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    qes += Qe(if (at > 0) at else System.currentTimeMillis(),
      ms("analysis"), ms("optimization"), ms("planning"))
    if (qe.analyzed.toString.contains(Marker)) flushed = true
  }

  /** Block until every event posted before this call was delivered: the
    * marker query's completion reaches the listeners after all earlier
    * events on the same (shared) listener queue. */
  def flush(): Unit = {
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(lit(Marker)).collect()
    val deadline = System.currentTimeMillis() + 60000
    while (!flushed && System.currentTimeMillis() < deadline) Thread.sleep(20)
    require(flushed, "trace listener queue did not drain within 60 s")
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def in(t: Long, s: Span) = t >= s.startMs && t <= s.endMs

  /** Scheduler/executor/planner totals over the given spans. */
  def totals(spans: Seq[Span]): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => spans.exists(in(t.finishMs, _)))
    val qs = qes.filter(q => spans.exists(in(q.atMs, _)))
    val mb = 1024.0 * 1024.0
    Map(
      "sched.jobs" -> jobs.count(j => spans.exists(in(j.startMs, _))).toDouble,
      "sched.stages" -> stages.count(t => spans.exists(in(t, _))).toDouble,
      "sched.tasks" -> ts.size.toDouble,
      "exec.task_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spill.mb" -> ts.map(_.spill).sum / mb,
      "exec.peak_mem_mb" -> (if (ts.isEmpty) 0.0
                             else ts.map(_.peakMem).max / mb),
      "driver.result_mb" -> ts.map(_.result).sum / mb,
      "plan.analysis_s" -> qs.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> qs.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> qs.map(_.planningMs).sum / 1e3)
  }

  def jobsIn(spans: Seq[Span]): Int = synchronized {
    jobs.count(j => spans.exists(in(j.startMs, _)))
  }
}
