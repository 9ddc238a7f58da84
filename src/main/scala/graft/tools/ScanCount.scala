package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

import graft.core.Sessions
import graft.pipeline.QueryMetrics

/** Scan-repetition audit (round-7 verdict #7): how many times does one
  * query's EXECUTED plan scan each input, and does any iterative query
  * re-scan a round's lineage?
  *
  * An unrolled iterative plan that loses its cache (or caches the
  * wrong frame) recomputes upstream lineage per round — the 2^rounds
  * blow-up g5 hit in round 6. The executed-plan scan count is the
  * ground truth for that failure mode: every recompute shows up as an
  * extra `FileSourceScan` of the same path. The walker descends
  * adaptive roots, materialized query stages, AND cached-relation
  * plans (a persisted frame's build scans live under
  * `InMemoryTableScan.cachedPlan`, counted once per distinct cache —
  * re-reads of the cache itself are free and don't count).
  *
  * `GraphScanAuditSpec` pins per-query bounds for the whole g-family;
  * the main prints the table PLANS.md records.
  */
object ScanCount {

  /** Run one registry query to the noop sink and return its executed
    * plan's file-scan counts, keyed by the scanned directory/file name
    * (e.g. "lineitem.parquet", "purchase"). */
  def counts(spark: SparkSession, dir: String,
             fn: (SparkSession, String) => DataFrame): Map[String, Int] =
    QueryMetrics.allNodes(executedPlan(spark, dir, fn))
      .collect { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.map { p =>
          // DerivedStore/AtomicPublish tiers read versioned subdirs
          // (…/purchase/v=3): report the tier name, not the version
          val n = p.getName
          if (n.matches("v=?\\d+")) p.getParent.getName else n
        }.toSeq
      }
      .flatten.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Run one registry query to the noop sink and return the executed
    * plan of that write (the final adaptive plan: walk it with
    * [[QueryMetrics.allNodes]]). The query's caches are released before
    * returning; the plan object stays walkable. */
  def executedPlan(spark: SparkSession, dir: String,
                   fn: (SparkSession, String) => DataFrame): SparkPlan = {
    // Constructing the frame first lets any store-materialization side
    // effects (GraphStore builds fire their own write actions) happen
    // OFF the capture — otherwise the first execution is the build's
    // plan, not the query's.
    fn(spark, dir): Unit
    val frame = fn(spark, dir)
    // the capture drains the bus before it listens: a build-internal
    // execution still queued from the warm construction once
    // masqueraded as the query's plan (the round-9 audit of a
    // stale-tier query captured the build's sampling pass and
    // under-counted the real scans)
    try {
      // keep the LAST execution: one nested in the noop write ends
      // before it, so the final one IS the audited query
      val last = Sessions.capture(spark)(Sessions.run(frame))._2.executions.lastOption
      require(last.isDefined, "no execution was captured")
      last.get.qe.executedPlan
    } finally Sessions.release(spark)
  }

  /** Print per-query scan counts: `ScanCount <sfDir> [names...]`
    * (defaults to the g-family). */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, rest @ _*) = args
    val names =
      if (rest.nonEmpty) rest
      else graft.SparkEntry.queries.keys.filter(_.startsWith("g")).toSeq.sorted
    val spark = Sessions.local()
    for (n <- names.sorted) {
      val c = counts(spark, sfDir, graft.SparkEntry.queries(n))
      println(f"$n%-22s ${c.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    }
    spark.stop()
  }
}
