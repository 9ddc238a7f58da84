package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AggView]]'s crash between the two renames of its whole-directory
  * swap ([[AtomicPublish.publishWith]]): the view lives only in `.old`.
  * Readers must resolve to it without mutating anything; the next
  * writer must roll it back in and apply its batch exactly once. */
class AggViewRecoverySpec extends SparkSpec {

  test("a view left only in .old reads read-only, and the next mergeBatch restores it and applies once") {
    val s = spark
    import s.implicits._
    val view = tmpDir("aggview-old") + "/totals"
    def keys = Seq("k")
    def aggs = Seq("n" -> count(lit(1)), "total" -> sum(col("v")))
    assert(AggView.mergeBatch(s, view, 0L, Seq(("a", 10L), ("b", 5L)).toDF("k", "v"), keys, aggs))
    assert(AggView.mergeBatch(s, view, 1L, Seq(("a", 1L), ("c", 2L)).toDF("k", "v"), keys, aggs))

    // the crash: rename(view, .old) done, rename(.staging, view) not
    val live = new java.io.File(view)
    val old = new java.io.File(view + ".old")
    assert(live.renameTo(old), "spec setup: simulate the crash between the renames")
    def totals() = AggView.read(s, view).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val before = Seq(("a", 2L, 11L), ("b", 1L, 5L), ("c", 1L, 2L))
    assert(totals() == before)
    assert(AggView.ledger(s, view) == Set("batch=0", "batch=1"))
    assert(!live.exists() && old.exists(), "readers resolve to .old without renaming it")

    // the interrupted batch re-applies after the writer's roll-back,
    // exactly once; the prior batches stay applied exactly once
    val b2 = Seq(("b", 4L), ("d", 7L)).toDF("k", "v")
    assert(AggView.mergeBatch(s, view, 2L, b2, keys, aggs))
    assert(live.exists() && !old.exists())
    assert(!AggView.mergeBatch(s, view, 2L, b2, keys, aggs))
    assert(!AggView.mergeBatch(s, view, 1L, Seq(("a", 1L)).toDF("k", "v"), keys, aggs))
    assert(totals() == Seq(("a", 2L, 11L), ("b", 2L, 9L), ("c", 1L, 2L), ("d", 1L, 7L)))
    assert(AggView.ledger(s, view) == Set("batch=0", "batch=1", "batch=2"))
  }
}
