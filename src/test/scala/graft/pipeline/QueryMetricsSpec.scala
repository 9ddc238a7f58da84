package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Sessions

class QueryMetricsSpec extends SparkSpec {

  // the capture drains the listener bus before it returns
  private def records(action: => Unit): Seq[QueryMetrics.Record] =
    Sessions.capture(spark)(action)._2.executions.map(QueryMetrics.of)

  test("listener records rows and shuffle volume for a grouped action") {
    val s = spark
    val recs = records {
      graft.core.Tables.load(s, sfDir, "orders")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    assert(recs.nonEmpty, "no metrics recorded")
    val r = recs.last
    assert(!r.failed)
    assert(r.durationNs > 0)
    // a groupBy over 15k orders must have shuffled actual records
    assert(r.shuffleRecords > 0, s"expected shuffle records, got $r")
    assert(r.shuffleBytes > 0, s"expected shuffle bytes, got $r")
  }

  test("metrics frame is appendable next to the K6 run-log") {
    val s = spark
    val recs = records(graft.core.Tables.load(s, sfDir, "nation").count(): Unit)
    val df = QueryMetrics.toDF(s, recs)
    assert(df.columns.toSeq == Seq("func_name", "duration_ns", "output_rows",
      "shuffle_bytes", "shuffle_records", "spill_bytes", "failed"))
    assert(df.count() >= 1)
  }
}
