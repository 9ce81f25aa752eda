package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Execution counters read from Spark's public listener interfaces. All
  * fields only grow; a layer's share is the difference of two snapshots
  * taken around its call, after the listener bus has drained.
  */
final case class Counters(jobs: Long = 0, jobMs: Long = 0, stages: Long = 0,
                          tasks: Long = 0, taskRunMs: Long = 0,
                          inputRecords: Long = 0, inputBytes: Long = 0,
                          shuffleReadRecords: Long = 0, shuffleReadBytes: Long = 0,
                          shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                          outputBytes: Long = 0, actions: Long = 0,
                          analysisMs: Double = 0, optimizationMs: Double = 0,
                          planningMs: Double = 0, planNodes: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, jobMs - o.jobMs,
    stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs,
    inputRecords - o.inputRecords, inputBytes - o.inputBytes,
    shuffleReadRecords - o.shuffleReadRecords,
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes, actions - o.actions,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, planNodes - o.planNodes)
}

/** A `SparkListener` plus a `QueryExecutionListener`, registered by the
  * benchmark on its own session; they never touch engine code.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var c = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(stages = c.stages + e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
    c = c.copy(jobs = c.jobs + 1, jobMs = c.jobMs + (e.time - t0))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c = c.copy(tasks = c.tasks + 1,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      shuffleReadRecords = c.shuffleReadRecords + m.shuffleReadMetrics.recordsRead,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
    else c = c.copy(tasks = c.tasks + 1)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val nodes = try qe.optimizedPlan.collect { case p => p }.size.toLong
      catch { case _: Throwable => 0L }
    synchronized {
      c = c.copy(actions = c.actions + 1,
        analysisMs = c.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = c.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = c.planningMs + ms(QueryPlanningTracker.PLANNING),
        planNodes = c.planNodes + nodes)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    ListenerBusDrain(spark.sparkContext)
    synchronized(c)
  }
}

object SparkCounters {
  def register(spark: SparkSession): SparkCounters = {
    val l = new SparkCounters(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** One span: a call into a layer, timed from the benchmark's side. */
final case class Span(id: Long, parent: Long, request: Long, name: String,
                      startNs: Long, endNs: Long, counters: Counters) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; the spans of one
  * request share its id. When `counters` is set, each span also carries
  * the Spark execution counters of its interval (sequential phases only:
  * the counters are global, so concurrent spans would share them).
  */
final class Tracer(val enabled: Boolean, counters: Option[SparkCounters]) {
  private val ids = new AtomicLong(0)
  /** Time the recorder itself spent waiting for the listener bus. */
  val recorderNs = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def request(): Long = ids.incrementAndGet()

  def span[T](name: String, req: Long = 0L)(f: => T): T =
    if (enabled) record(name, req)(f) else f

  private def record[T](name: String, req: Long)(f: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, r) = outer.headOption.getOrElse((0L, req))
    stack.set((id, if (req != 0L) req else r) :: outer)
    val c0 = snapshot()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val c1 = snapshot()
      stack.set(outer)
      done.synchronized(done += Span(id, parent, if (req != 0L) req else r,
        name, t0, t1, c1 - c0))
    }
  }

  private def snapshot(): Counters = counters.map { c =>
    val t = System.nanoTime()
    try c.snapshot() finally recorderNs.addAndGet(System.nanoTime() - t)
  }.getOrElse(Counters())

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Self time per span name: its duration minus the part of it that its
    * children cover (children run on the parent's thread, one at a time).
    */
  def selfMs: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum).sum
    }
  }
  def byName(n: String): Seq[Span] = spans.filter(_.name == n)
}

object Tracer {
  val off = new Tracer(false, None)
}
