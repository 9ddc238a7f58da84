package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QueryMetricsSpec extends SparkSpec {

  // listener callbacks are async (execution listener bus) — drain it
  private def drained(l: QueryMetrics): Seq[l.Record] = {
    graft.core.Sessions.drain(spark)
    l.snapshot
  }

  test("listener records rows and shuffle volume for a grouped action") {
    val s = spark
    val l = QueryMetrics.attach(s)
    try {
      graft.core.Tables.load(s, sfDir, "orders")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      val recs = drained(l)
      assert(recs.nonEmpty, "no metrics recorded")
      val r = recs.last
      assert(!r.failed)
      assert(r.durationNs > 0)
      // a groupBy over 15k orders must have shuffled actual records
      assert(r.shuffleRecords > 0, s"expected shuffle records, got $r")
      assert(r.shuffleBytes > 0, s"expected shuffle bytes, got $r")
    } finally QueryMetrics.detach(s, l)
  }

  test("metrics frame is appendable next to the K6 run-log") {
    val s = spark
    val l = QueryMetrics.attach(s)
    try {
      graft.core.Tables.load(s, sfDir, "nation").count()
      drained(l)
      val df = l.toDF(s)
      assert(df.columns.toSeq == Seq("func_name", "duration_ns", "output_rows",
        "shuffle_bytes", "shuffle_records", "spill_bytes", "failed"))
      assert(df.count() >= 1)
    } finally QueryMetrics.detach(s, l)
  }
}
