package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span (0 at the
  * root) and `op` the benchmark operation (one ask, one entry) it belongs to. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, op: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a plain call, so the
  * untraced runs pay nothing for it. Spans nest per thread. */
final class Tracer(@volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Root span of one operation; every span opened inside carries `opId`. */
  def op[T](name: String, opId: Long)(body: => T): T =
    if (!enabled) body
    else {
      currentOp.set(opId)
      try span(name)(body) finally currentOp.set(0L)
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        recorded.add(Span(id, name, t0, t1, parent, currentOp.get))
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)

  /** Durations (s) of every span called `name`. */
  def durations(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds)

  /** Self time per span: its duration minus the union of its children's
    * intervals (children of one span run on its thread, one after another,
    * but the union also holds if they overlap). */
  def selfSeconds: Map[Long, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - (a max reach)), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** A listener whose counting can be paused, so that the benchmark's own
  * answer checks stay out of the counts. */
trait Pausable {
  @volatile var counting: Boolean = true
}

/** Spark execution counters from the scheduler's task, stage and job
  * events, summed over the measured window. */
final class ExecCounters extends SparkListener with Pausable {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val waitMs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val peakExecBytes = new AtomicLong
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (counting) stages.incrementAndGet()
    stageSubmitted.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    // time the task waited for a core: launch minus its stage's submission
    Option(stageSubmitted.get((e.stageId, e.stageAttemptId))).foreach { sub =>
      waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
    }
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecBytes.accumulateAndGet(m.peakExecutionMemory, (a: Long, b: Long) => a max b)
    }
  }
}

/** Catalyst phase times of every query execution the session finishes
  * (`QueryExecution.tracker`), summed; reset per operation. */
final class CatalystCounters extends QueryExecutionListener with Pausable {
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def add(qe: QueryExecution): Unit = if (counting)
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.merge(phase, summary.durationMs, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  /** Phase → ms since the last call, then zero. */
  def drain(): Map[String, Double] = {
    val out = phaseMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    phaseMs.clear()
    out
  }
}

/** Micro-batch progress of every streaming query: trigger phases, input
  * rows and state-store figures. */
final class StreamCounters extends StreamingQueryListener with Pausable {
  val triggerMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val triggers = new AtomicLong
  val inputRows = new AtomicLong
  val stateCommitMs = new AtomicLong
  // last reported state size per query: rows and memory held at the end
  private val lastState = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (counting) {
    val p = e.progress
    triggers.incrementAndGet()
    inputRows.addAndGet(p.numInputRows)
    p.durationMs.asScala.foreach { case (k, v) =>
      phaseMs.merge(k, v, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
    Option(p.durationMs.get("triggerExecution")).foreach(v => triggerMs.add(v))
    val ops = p.stateOperators
    stateCommitMs.addAndGet(ops.map(_.commitTimeMs).sum)
    lastState.put(p.runId, (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }

  def phase(name: String): Double = Option(phaseMs.get(name)).map(_.toDouble).getOrElse(0.0)
  def triggerSamples: Seq[Double] = triggerMs.asScala.toSeq.map(_.toDouble)
  def stateRows: Long = lastState.values.asScala.map(_._1).sum
  def stateMemBytes: Long = lastState.values.asScala.map(_._2).sum
}

/** The listeners of one run. The traced run registers all three; an
  * untraced streaming run registers only `streams`, for its trigger
  * latency. */
final class Listeners(spark: org.apache.spark.sql.SparkSession, traced: Boolean) {
  val exec: Option[ExecCounters] = if (traced) Some(new ExecCounters) else None
  val catalyst: Option[CatalystCounters] = if (traced) Some(new CatalystCounters) else None
  val streams: StreamCounters = new StreamCounters
  private def all: Seq[Pausable] = exec.toSeq ++ catalyst.toSeq :+ streams

  exec.foreach(spark.sparkContext.addSparkListener)
  catalyst.foreach(spark.listenerManager.register)
  spark.streams.addListener(streams)

  /** Wait until every event posted so far has reached the listeners. */
  def settle(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Run `body` without counting it. */
  def uncounted[T](body: => T): T = {
    val was = all.map(_.counting)
    settle(); all.foreach(_.counting = false)
    try body finally { settle(); all.zip(was).foreach { case (l, c) => l.counting = c } }
  }

  def counting(on: Boolean): Unit = { settle(); all.foreach(_.counting = on) }

  def remove(): Unit = {
    settle()
    exec.foreach(spark.sparkContext.removeSparkListener)
    catalyst.foreach(spark.listenerManager.unregister)
    spark.streams.removeListener(streams)
  }
}
