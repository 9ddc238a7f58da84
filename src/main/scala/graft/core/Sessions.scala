package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Session factory for the graft engine, and the one way the harnesses
  * (Bench, Verify, Time, ScaleProbe, ScanCount, the specs) run a query,
  * release its caches, wait for its listener events and capture what
  * it executed ([[capture]], the one listener in the engine).
  *
  * Defaults are chosen for a 1000-executor cluster mindset tested on
  * `local[32]`: AQE on (runtime coalesce + skew-join handling),
  * shuffle partitions sized to the local core count rather than the
  * 200 default, UTC session time zone (the reference stores KST
  * wall-clock timestamps by *adding* 9h explicitly — see
  * `/root/reference/Talent_Opportunity_Platform/log_screen.py:299` —
  * never by changing the session zone).
  */
object Sessions {
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; 209 queries
      // x ~20 codegen stages evict everything every pass, so a warmup's
      // compilation work is thrown away and each later run re-Janino-
      // compiles its whole plan. Steady-state throughput assumes warm
      // codegen.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    // Operational conf overrides without a rebuild:
    // `GRAFT_EXTRA_CONF="spark.sql.cbo.joinReorder.enabled=true"`
    // (semicolon-separated k=v pairs) — the gated optimizer-A/B lever.
    sys.env.get("GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k, v): Unit
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materialize every output column of `df` through the noop sink —
    * `count()` would let Catalyst prune the projections of map-only
    * queries and under-measure them. */
  def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Drop every registered cache and the session cache manager's
    * entries, BLOCKING until the executors have dropped the blocks:
    * the default non-blocking unpersist lets a cache-heavy query's
    * block drops run concurrently with whatever runs next (measured
    * ~1 s bleed into g9 when it follows g8's per-round caches). */
  def release(spark: SparkSession): Unit = {
    Caching.releaseAll(blocking = true)
    spark.catalog.clearCache()
  }

  /** Block until every event already posted to the context's listener
    * bus has been delivered: job/stage/task events and the SQL
    * execution ends, including those of child sessions (the bus is per
    * context). An action posts its execution end before it returns, so
    * after `run(df); drain(s)` every listener has seen `df`'s execution
    * — no polling, no sleep. */
  def drain(spark: SparkSession): Unit = GraftPlanBridge.drainListeners(spark)

  /** One named SQL execution (`save`, `count`, `collect`, …) that ended
    * during a [[capture]]: its plans, duration and failure, if any. */
  final case class Execution(name: String, qe: QueryExecution, durationNs: Long,
                             failure: Option[Throwable])

  /** What one [[capture]] saw, each in delivery order: the named
    * executions of every session on the context, the jobs submitted and
    * the stages that ran (a job's skipped stages never complete). */
  final case class Capture(executions: Seq[Execution],
                           jobs: Seq[SparkListenerJobStart],
                           stages: Seq[StageInfo])

  /** Run `action` with one listener on the context's bus and return its
    * result with what the listener saw. The bus is drained before the
    * listener is added, so no earlier event lands in the capture, and
    * again after `action`, so every event it caused has arrived. The bus
    * is per context, so a frame built on a child session is captured
    * like any other. */
  def capture[A](spark: SparkSession)(action: => A): (A, Capture) = {
    val executions = new ConcurrentLinkedQueue[Execution]()
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.add(s.stageInfo): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          GraftPlanBridge.executionEnd(end).foreach { case (name, qe, ns, failure) =>
            executions.add(Execution(name, qe, ns, failure))
          }
        case _ =>
      }
    }
    drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = action
      drain(spark)
      (result, Capture(executions.asScala.toSeq, jobs.asScala.toSeq, stages.asScala.toSeq))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
