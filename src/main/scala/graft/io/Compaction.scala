package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.Tables

/** Small-file compaction — the operational pass every long-lived
  * parquet table needs (the reference's daily delete-then-append jobs
  * produce one file per task per day, `AWS_GLUE_ETL.py:124-132`; at
  * 100 TB a scan's task count — and the namenode/liststatus load — is
  * dictated by file count, so thousands of kilobyte files turn a
  * columnar scan into a metadata storm).
  *
  * The rewrite sizes itself from the ACTUAL bytes on disk: target file
  * count = ceil(totalBytes / targetBytes), data is re-read and written
  * with that partitioning, then swapped in with [[AtomicPublish]]'s
  * staged rename and count gate — a crash mid-compaction leaves the
  * original table untouched, and the row count provably survives the
  * rewrite.
  */
object Compaction {

  final case class Report(filesBefore: Int, filesAfter: Int,
                          bytes: Long, rows: Long)

  /** The table's data files (Spark's hidden-path rule on every path
    * segment: committer markers, CRCs, `_temporary/` staging and
    * in-flight `._COPYING_` copies are not data). */
  private def dataFiles(spark: SparkSession, table: String): Seq[Tables.SourceFile] =
    Tables.filesAt(spark, new Path(table)).getOrElse(Nil)

  /** Compact `table` (a parquet directory) into ~`targetBytes` files.
    * No-op (returns the current state) when the table is already at or
    * under the target count.
    */
  def compact(spark: SparkSession, table: String,
              targetBytes: Long = 128L * 1024 * 1024): Report = {
    val files = dataFiles(spark, table)
    val totalBytes = files.map(_.len).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (files.size <= targetFiles) {
      val rows = spark.read.parquet(table).count()
      return Report(files.size, files.size, totalBytes, rows)
    }
    val df = spark.read.parquet(table)
    val rows = df.count()
    // coalesce, not repartition: compaction must not shuffle — each
    // output task concatenates input splits
    val written = AtomicPublish.publish(
      df.coalesce(targetFiles), table, expectedRows = Some(rows))
    Report(files.size, dataFiles(spark, table).size, totalBytes, written)
  }

  /** Partition-preserving flavour for `partCol=`-partitioned tables:
    * each partition directory compacts independently (already-compact
    * partitions are metadata-only no-ops), so the table's partition
    * pruning and dynamic-partition-overwrite contracts survive, and a
    * 100 TB table compacts one bounded partition-sized job at a time —
    * never a full-table rewrite. Each swap is [[AtomicPublish]]-staged
    * per partition; a crash affects at most the one partition being
    * swapped, and its original data survives in the staged dirs.
    */
  def compactPartitions(spark: SparkSession, table: String, partCol: String,
                        targetBytes: Long = 128L * 1024 * 1024): Map[String, Report] = {
    val base = new Path(table)
    val f = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(base)) return Map.empty
    f.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map { s =>
        s.getPath.getName.stripPrefix(s"$partCol=") ->
          compact(spark, s.getPath.toString, targetBytes)
      }.toMap
  }
}
