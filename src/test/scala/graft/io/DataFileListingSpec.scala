package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.Tables

/** TableStats, Compaction, TargetedDelete and the LSM tiers' compaction
  * step count data files through `Tables`' one listing, which applies
  * Spark's hidden-path rule to every path segment: a task file an
  * uncommitted write left under `_temporary/`, and an in-flight
  * `*._COPYING_` copy, are not data — Spark's own read of the table
  * skips both. */
class DataFileListingSpec extends SparkSpec {

  /** A 4-file, 400-row parquet table `<base>/t.parquet` plus one stray
    * of each kind, each a full copy of a real part file. Returns (base,
    * table dir, data files, data bytes). */
  private def tableWithStrays(prefix: String): (String, String, Int, Long) = {
    val base = tmpDir(prefix)
    val dir = s"$base/t.parquet"
    spark.range(0, 400).toDF("id").repartition(4).write.parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 4)
    val staged = Paths.get(dir, "_temporary", "0", "_temporary", "attempt_0")
    Files.createDirectories(staged)
    Files.copy(parts(0).toPath, staged.resolve(parts(0).getName))
    Files.copy(parts(1).toPath, Paths.get(dir, s"${parts(1).getName}.tmp._COPYING_"))
    assert(spark.read.parquet(dir).count() == 400L)
    (base, dir, parts.length, parts.map(_.length).sum)
  }

  test("TableStats weighs only the data files") {
    val (base, _, _, bytes) = tableWithStrays("stats-strays")
    assert(TableStats.analyze(spark, base, "t") == (400L, bytes))
  }

  test("Compaction counts only the data files") {
    val (_, dir, n, bytes) = tableWithStrays("compact-strays")
    // the target fits the table in one file, so 4 data files compact
    val r = Compaction.compact(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(r.filesBefore == n && r.bytes == bytes && r.rows == 400L)
    assert(r.filesAfter == 1)
  }

  test("TargetedDelete's file total counts only the data files") {
    val (_, dir, n, _) = tableWithStrays("delete-strays")
    val r = TargetedDelete.deleteIds(spark, dir, "id", Seq(1000L))
    assert(r == TargetedDelete.Report(0L, 0L, n.toLong, "scan"))
  }

  test("an LSM tier's budget and _stats bytes count only the served version's data files") {
    val dir = tmpDir("lsm-strays-src")
    def nation(from: Int, until: Int) =
      Tables.load(spark, sfDir, "nation").select("n_nationkey", "n_name")
        .filter(col("n_nationkey") >= from && col("n_nationkey") < until)
    nation(0, 5).coalesce(1).write.parquet(s"$dir/nation.parquet")
    def append(from: Int, until: Int): Unit = {
      val stage = tmpDir("lsm-strays-delta")
      nation(from, until).coalesce(1).write.parquet(s"$stage/d")
      new java.io.File(s"$stage/d").listFiles().filter(_.getName.startsWith("part-"))
        .foreach(f => Files.move(f.toPath, Paths.get(dir, "nation.parquet", f.getName)))
    }
    val lsm = DerivedStore.Refresh.Lsm((s, d, _, deltas) =>
      Some(Tables.loadFiles(s, d, "nation", deltas("nation")).select("n_nationkey", "n_name")))
    val build = (s: SparkSession, d: String) =>
      Tables.load(s, d, "nation").select("n_nationkey", "n_name")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("lsm-strays-root")
    try {
      def serve(): String = {
        DerivedStore.served(spark, dir, "strays", Seq("nation"), build, lsm,
          numFiles = 1, sortKey = "n_nationkey").count(): Unit
        val store = DerivedStore.storePath(dir, "strays")
        s"$store/v=${AtomicPublish.currentVersion(spark, store).get}"
      }
      def dataFiles(v: String) = new java.io.File(v).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      serve()
      // numFiles = 1 and a tiny tier: a budget of 4 data files. Three
      // appends of one run each fill it exactly.
      Seq(5 -> 10, 10 -> 15, 15 -> 20).foreach { case (a, b) => append(a, b); serve() }
      val served = serve()
      assert(dataFiles(served).length == 4)
      Files.copy(dataFiles(served).head.toPath,
        Paths.get(s"${dataFiles(served).head}._COPYING_"))
      append(20, 25)
      val next = serve()
      assert(DerivedStore.refreshOf(spark, next).contains(
        DerivedStore.RefreshRecord("merge", "lsm-append")),
        "an in-flight copy is no data file: 4 data files stay within the budget of 4")
      assert(!new java.io.File(next).list().exists(_.endsWith("._COPYING_")),
        "the byte-copy carries only data files forward")
      assert(DerivedStore.rowStatsOfVersion(spark, next).map(_.bytes)
        .contains(dataFiles(next).map(_.length).sum))
      assert(spark.read.parquet(next).count() == 25L)
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }
}
