package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger


import org.apache.spark.{JobExecutionStatus, SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer's public function (plan building on
  * the driver, since graft returns lazy frames), an action on the frame
  * it returned (execution), or the op itself (parent 0). Times are
  * epoch nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
    start: Long, end: Long)

/** Spans and counters recorded from outside the engine. With tracing
  * off every method is a plain call-through, so the untraced run pays
  * only a branch per call. Spans stay in memory until the run ends.
  */
final class Tracer(val on: Boolean, sparkTrace: Option[SparkTrace] = None,
    sampler: Option[WaitSampler] = None) {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Int)] // (op, span id)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()

  def now(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Wrap a whole op: the root span its layer spans hang from. */
  def op[T](opId: Long, name: String)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val prev = current.get()
    current.set((opId, id))
    sampler.foreach(_.enter(opId))
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, 0, name, opId, t0, now()))
      sampler.foreach(_.exit())
      current.set(prev)
    }
  }

  /** Wrap a call into a layer (`<layer>.<function>`) or an action on a
    * returned frame (`<layer>.<function>.action`). */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val (opId, parent) = Option(current.get()).getOrElse((-1L, 0))
    val id = ids.incrementAndGet()
    current.set((opId, id))
    val t0 = now()
    try body
    finally {
      spans.add(Span(id, parent, name, opId, t0, now()))
      current.set((opId, parent))
    }
  }

  def add(name: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  /** Collect `df`, timing the action as `<name>.action`; with tracing on,
    * also count the rows its leaf scans produced and the rows its joins
    * emitted (from the executed plan's own SQL metrics). */
  def collect(name: String, df: DataFrame): Array[org.apache.spark.sql.Row] = {
    sparkTrace.foreach(st => Option(current.get()).foreach(c => st.expect(df.queryExecution, c._1)))
    val rows = span(s"$name.action")(df.collect())
    if (on) {
      val plan = df.queryExecution.executedPlan
      add(s"$name.leaf_rows", PlanRows.leafRows(plan).toDouble)
      add(s"$name.join_rows", PlanRows.joinRows(plan).toDouble)
      add(s"$name.result_rows", rows.length.toDouble)
    }
    rows
  }
}

/** Out-of-job time per op, measured apart from the listener's job
  * intervals: about every half millisecond a daemon thread asks Spark's
  * own status tracker whether a job of each running op (tagged by the
  * loop) is running, and if not credits the time since its previous look
  * to that op's out-of-job time. The listener's in-job time (job event
  * times, attributed by the op property) plus this time should add up to
  * the op's wall clock; they do not where the two sources disagree or a
  * job escapes the op's tag or property (a pool thread keeps those of the
  * op that created it). */
final class WaitSampler(sc: SparkContext) extends Thread("perfbench-sampler") {
  private final class Slot(val op: Long, var last: Long) {
    var outNs = 0L
    var closed = false
  }
  private val slots = new java.util.concurrent.ConcurrentHashMap[Thread, Slot]()
  private val outNs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  @volatile private var stopped = false
  setDaemon(true)

  def enter(op: Long): Unit = {
    slots.put(Thread.currentThread(), new Slot(op, System.nanoTime()))
  }

  /** Close the calling thread's op; the stretch since the last look is
    * harness code checking the result, so out-of-job. */
  def exit(): Unit = Option(slots.remove(Thread.currentThread())).foreach { s =>
    s.synchronized {
      s.outNs += System.nanoTime() - s.last
      s.closed = true
      outNs.put(s.op, s.outNs)
    }
  }

  def outOfJobMs(op: Long): Option[Double] = Option(outNs.get(op)).map(_ / 1e6)

  private def inJob(s: Slot): Boolean =
    sc.statusTracker.getJobIdsForTag(WaitSampler.tag(s.op)).exists(id =>
        sc.statusTracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))

  override def run(): Unit =
    while (!stopped) {
      java.util.concurrent.locks.LockSupport.parkNanos(500000L)
      slots.values().forEach { s =>
        val busy = inJob(s)
        s.synchronized {
          if (!s.closed) {
            val now = System.nanoTime()
            if (!busy) s.outNs += now - s.last
            s.last = now
          }
        }
      }
    }

  def finish(): Unit = { stopped = true; join() }
}

object WaitSampler {
  def tag(op: Long): String = s"perfbench-op-$op"
}

object PlanRows extends AdaptiveSparkPlanHelper {
  private def rowsOf(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  def leafRows(plan: SparkPlan): Long = collectLeaves(plan).map(rowsOf).sum
  def joinRows(plan: SparkPlan): Long =
    collect(plan) { case j: BaseJoinExec => j }.map(rowsOf).sum
}

/** Spark's own job, stage and task metrics plus Catalyst phase times,
  * read through the public listener APIs and attributed to ops through
  * the `perfbench.op` local property the harness sets on each client
  * thread before it calls into graft. */
final class SparkTrace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkTrace._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageM]()
  val stageWaitMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
  /** (op, arrival epoch ms, phase → ms): the op is known when the
    * harness itself ran the action ([[expect]]), else -1. */
  val phases = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()
  private val expected = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  /** Name the op an action on `qe` belongs to, before running it. */
  def expect(qe: QueryExecution, op: Long): Unit = expected.put(qe, op)
  val taskFailures = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(SparkTrace.OpProperty))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, op, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.merge(i.stageId, StageM(i.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead), (a, b) => StageM(a.tasks + b.tasks, a.runMs + b.runMs,
      a.cpuNs + b.cpuNs, a.gcMs + b.gcMs, a.shuffleWrite + b.shuffleWrite,
      a.shuffleRead + b.shuffleRead, a.spill + b.spill, a.bytesRead + b.bytesRead))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != TaskSuccess) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val wait = math.max(0L, e.taskInfo.duration - m.executorRunTime)
      stageWaitMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.atomic.AtomicLong())
        .addAndGet(wait)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases.add((Option(expected.remove(qe)).map(_.longValue).getOrElse(-1L),
      System.currentTimeMillis(), qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object SparkTrace {
  val OpProperty = "perfbench.op"
  final case class Job(id: Int, op: Long, start: Long, var end: Long, stages: Seq[Int])
  final case class StageM(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, bytesRead: Long)
}
