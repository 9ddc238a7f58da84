package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine observability: a `QueryExecutionListener` that turns every
  * completed action into a metrics record — rows produced, shuffle
  * volume, spill — harvested from the executed plan's SQLMetrics.
  *
  * This extends the reference's audit-log habit (K6: one 9-column row
  * per job, `comlib.py:386-408`) with the plan-level numbers the
  * reference never had: at 100 TB "how many bytes did this query
  * shuffle" is the difference between a regression caught in the log
  * table and one caught by the infra bill. Records accumulate in
  * memory (driver-side, O(queries), bounded by [[maxRecords]]) and
  * flush to a DataFrame for the K6-style append — the listener itself
  * never blocks the query path.
  */
final class QueryMetrics(maxRecords: Int = 10000) extends QueryExecutionListener {

  /** One completed action's plan-level accounting. `planMs` is the
    * action's optimization + physical planning, from its own
    * `QueryPlanningTracker` (it stays off the K6 frame of [[toDF]]). */
  case class Record(
      funcName: String,
      durationNs: Long,
      outputRows: Long,
      shuffleBytes: Long,
      shuffleRecords: Long,
      spillBytes: Long,
      failed: Boolean,
      planMs: Long)

  private val records = new ConcurrentLinkedQueue[Record]()

  private def metricSum(qe: QueryExecution, names: Set[String]): Long =
    QueryMetrics.allNodes(qe.executedPlan).flatMap(_.metrics).collect {
      case (key, m: SQLMetric) if names.contains(key) => math.max(m.value, 0L)
    }.sum

  private def record(funcName: String, qe: QueryExecution,
                     durationNs: Long, failed: Boolean): Unit = {
    if (records.size < maxRecords) {
      val out = QueryMetrics.allNodes(qe.executedPlan)
        .flatMap(_.metrics.get("numOutputRows").map(m => math.max(m.value, 0L)))
        .maxOption.getOrElse(0L)
      records.add(Record(
        funcName, durationNs,
        outputRows = math.max(out, 0L),
        // Only the shuffle writer's own byte counter: every
        // ShuffleExchangeExec exposes BOTH `dataSize` (uncompressed rows
        // materialized) and `shuffleBytesWritten` (compressed on the wire),
        // and BroadcastExchangeExec exposes `dataSize` too — summing both
        // double-counts each shuffle and folds broadcast bytes into the
        // "shuffle volume" this listener exists to isolate.
        shuffleBytes = metricSum(qe, Set("shuffleBytesWritten")),
        shuffleRecords = metricSum(qe, Set("shuffleRecordsWritten")),
        spillBytes = metricSum(qe, Set("spillSize")),
        failed = failed,
        planMs = Seq("optimization", "planning").flatMap(qe.tracker.phases.get)
          .map(_.durationMs).sum)): Unit
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, failed = false)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(funcName, qe, durationNs = 0L, failed = true)

  /** Snapshot of the collected records. */
  def snapshot: Seq[Record] = records.asScala.toSeq

  /** The records as a frame, ready for a K6-style audit append. */
  def toDF(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    snapshot.map(r => (r.funcName, r.durationNs, r.outputRows,
      r.shuffleBytes, r.shuffleRecords, r.spillBytes, r.failed))
      .toDF("func_name", "duration_ns", "output_rows",
        "shuffle_bytes", "shuffle_records", "spill_bytes", "failed")
  }
}

object QueryMetrics {
  /** Every node of an executed plan — the one plan walker (this
    * listener's metrics, `ScanCount`'s scan audit). AQE hides the real
    * plan: AdaptiveSparkPlanExec carries the final plan in
    * `executedPlan` (not `children`) and each materialized stage sits
    * behind a QueryStageExec wrapper — a plain `foreach` sees only the
    * adaptive root and reads every metric as 0. Cached frames hide
    * theirs the same way: the shuffles that built a persisted stage
    * live under InMemoryTableScan's cachedPlan, not in `children` —
    * without descending there, any query that persists an intermediate
    * reports ~0 shuffle volume. Each distinct cached plan is visited
    * once even when scanned twice. */
  def allNodes(p: SparkPlan): Iterator[SparkPlan] = {
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Iterator[SparkPlan] =
      Iterator(p) ++ (p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec        => go(q.plan)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCached.add(m.relation.cachedPlan)) go(m.relation.cachedPlan)
          else Iterator.empty
        case other => other.children.iterator.flatMap(go)
      })
    go(p)
  }

  /** Attach a fresh listener to the session and return it. */
  def attach(spark: SparkSession, maxRecords: Int = 10000): QueryMetrics = {
    val l = new QueryMetrics(maxRecords)
    spark.listenerManager.register(l)
    l
  }

  def detach(spark: SparkSession, l: QueryMetrics): Unit =
    spark.listenerManager.unregister(l)
}
