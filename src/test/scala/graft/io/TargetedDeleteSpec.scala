package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TargetedDeleteSpec extends SparkSpec {

  test("delete rewrites only the files whose range contains the targets") {
    val s = spark
    val dir = tmpDir("tdel") + "/docs"
    val docs = graft.core.Tables.load(s, sfDir, "documents")
    SortedLayout.writeRangeSorted(docs, dir, numFiles = 8, col("doc_id"))

    val total = s.read.parquet(dir).count()
    // three adjacent ids — under a range-sorted layout they live in
    // one (maybe two) files
    val targets = Seq(10L, 11L, 12L)

    val r = TargetedDelete.deleteIds(s, dir, "doc_id", targets)
    assert(r.rowsDeleted == 3, r)
    assert(r.filesTotal == 8, r)
    assert(r.filesRewritten <= 2,
      s"adjacent ids should hit at most 2 range files, rewrote ${r.filesRewritten}")

    val after = s.read.parquet(dir)
    assert(after.count() == total - 3)
    assert(after.filter(col("doc_id").isin(targets: _*)).count() == 0)
    // every non-target row survives intact (compare against the
    // original source, not the pre-delete listing — those files are gone)
    val expected = docs.filter(!col("doc_id").isin(targets: _*))
      .select(after.columns.map(col).toIndexedSeq: _*)
    assert(after.exceptAll(expected).isEmpty && expected.exceptAll(after).isEmpty)
  }

  test("mid-swap crash replays from the journal: no survivor loss, no duplication") {
    val s = spark
    val dir = tmpDir("tdel3") + "/docs"
    val docs = graft.core.Tables.load(s, sfDir, "documents")
    SortedLayout.writeRangeSorted(docs, dir, numFiles = 8, col("doc_id"))
    val targets = Seq(20L, 21L)
    val expected = docs.filter(!col("doc_id").isin(targets: _*)).select("doc_id")

    // run the delete up to the CRASH POINT: staging written, journal
    // committed (with END), table untouched — the exact state a kill
    // -9 after the journal fsync leaves
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val affected = s.read.parquet(dir)
      .filter(col("doc_id").isin(targets: _*))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(affected.nonEmpty)
    val staging = new org.apache.hadoop.fs.Path(dir + ".delete-staging")
    s.read.parquet(affected: _*).filter(!col("doc_id").isin(targets: _*))
      .write.mode("overwrite").parquet(staging.toString)
    val staged = fs.listStatus(staging).filter(_.getPath.getName.endsWith(".parquet"))
    val moves = staged.zipWithIndex.map { case (st, i) =>
      st.getPath -> new org.apache.hadoop.fs.Path(dir, f"deleted-rewrite-crash-$i%04d.parquet")
    }
    val jl = (moves.map { case (a, b) => s"mv\t$a\t$b" } ++
      affected.map(f => s"old\t$f") :+ "END").mkString("\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(dir + ".delete-journal"), true)
    try out.write(jl.getBytes("UTF-8")) finally out.close()
    // partial progress: ONE rename already executed before the crash
    val (ms, md) = moves.head
    require(fs.rename(ms, md))

    // next deleteIds call (any ids) must first replay the journal —
    // deleting absent ids afterwards proves the replay alone restored
    // the table to the exact post-delete state
    val r = TargetedDelete.deleteIds(s, dir, "doc_id", Seq(999999L))
    assert(r.rowsDeleted == 0L)
    val after = s.read.parquet(dir).select("doc_id")
    assert(after.exceptAll(expected).isEmpty && expected.exceptAll(after).isEmpty,
      "journal replay must leave exactly the survivors, once each")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".delete-journal")))
    assert(!fs.exists(staging))
  }

  test("incomplete journal (no END) means the table was never touched: discarded") {
    val s = spark
    val dir = tmpDir("tdel4") + "/docs"
    val docs = graft.core.Tables.load(s, sfDir, "documents")
    SortedLayout.writeRangeSorted(docs, dir, numFiles = 4, col("doc_id"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir + ".delete-journal"), true)
    try out.write("mv\t/x\t/y".getBytes("UTF-8")) finally out.close()
    val r = TargetedDelete.deleteIds(s, dir, "doc_id", Seq(999999L))
    assert(r.rowsDeleted == 0L)
    assert(s.read.parquet(dir).count() == docs.count())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".delete-journal")))
  }

  test("deleting absent ids touches nothing") {
    val s = spark
    val dir = tmpDir("tdel2") + "/docs"
    SortedLayout.writeRangeSorted(
      graft.core.Tables.load(s, sfDir, "documents"), dir, 4, col("doc_id"))
    val r = TargetedDelete.deleteIds(s, dir, "doc_id", Seq(999999L))
    assert(r == TargetedDelete.Report(0L, 0L, 4L, "scan"))
  }
}
