package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** TableStats, Compaction and TargetedDelete count a table's data files
  * through `Tables`' one listing, which applies Spark's hidden-path rule
  * to every path segment: a task file an uncommitted write left under
  * `_temporary/`, and an in-flight `*._COPYING_` copy, are not data —
  * Spark's own read of the table skips both. */
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
}
