package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded around the benchmark's calls into each
  * engine layer. With tracing off, [[span]] only runs its body; with
  * tracing on it keeps (name, parent, start, end) in memory and the
  * Spark listeners count jobs, stages, tasks and bytes of the timed
  * passes. Nothing is written until the run ends. */
final class Trace(val on: Boolean) {

  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** Per span name: (count, total seconds, self seconds), where self
    * is the span minus the part of it its child spans cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childTime(s.parent) += s.t1 - s.t0)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      (n, ss.size, ss.map(s => s.t1 - s.t0).sum / 1e9,
        ss.map(s => s.t1 - s.t0 - childTime(s.id)).sum / 1e9)
    }
  }

  // ---- exec counters, limited to jobs submitted under the timed phase ----
  val jobs, stages, tasks = new AtomicLong
  val taskMs, shuffleBytes, spillBytes, inputBytes, gcMs = new AtomicLong
  val planMs = new DoubleAdder
  private val timedStages = ConcurrentHashMap.newKeySet[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(Trace.PhaseKey) == Trace.Timed) {
        jobs.incrementAndGet()
        e.stageIds.foreach(id => timedStages.add(id))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (timedStages.contains(e.stageInfo.stageId)) stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (timedStages.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        taskMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        gcMs.addAndGet(m.jvmGCTime)
      }
  }

  /** Optimization + physical planning of each noop write, read from
    * the write's own QueryPlanningTracker. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.logical.isInstanceOf[V2WriteCommand]) {
        val ph = qe.tracker.phases
        planMs.add(Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs the timed passes: their Spark jobs carry the phase property
    * the exec counters select on, and plan time counts from here. */
  def timedPhase[A](spark: SparkSession)(body: => A): A = {
    settle()
    planMs.reset()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, Trace.Timed)
    try body
    finally {
      spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)
      settle()
    }
  }

  /** Listener events arrive asynchronously: wait until the counters
    * stop moving before they are read or reset. */
  def settle(): Unit = if (on) {
    def snap = (jobs.get, stages.get, tasks.get, planMs.sum)
    var last = snap
    var quiet = 0
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = snap
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"
  val Timed = "timed"
}
