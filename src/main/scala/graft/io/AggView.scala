package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate view — the materialized-view
  * refresh a warehouse runs nightly, done right at 100 TB: when day
  * partitions arrive, the view is updated by aggregating ONLY the new
  * partitions (one pass over them, together) and merging the partial
  * into the stored per-key totals. The fact table is never rescanned;
  * refresh cost is O(new partitions) + O(|view|).
  *
  * Correctness rests on the aggregate being ADDITIVE (sum/count —
  * merge = elementwise +). That is the same partial/final split
  * Catalyst uses inside one query, lifted across RUNS with the stored
  * view as the standing partial. Non-additive stats (max: still
  * mergeable; avg: carry sum+count, divide at read; distinct: carry a
  * sketch like KMV) follow the same pattern with a different merge.
  *
  * Exactly-once accounting: the processed-partition ledger lives
  * INSIDE the view directory and commits in the SAME staging swap as
  * the merged data. A crash before the swap changes nothing; after
  * it, data and ledger moved together — there is no window where a
  * replay can double-count a day (the flaw of publishing data first
  * and committing a side ledger second).
  */
object AggView {

  private val DataDir = "data"
  private val LedgerFile = "_partitions"

  /** One refresh: aggregate the new partitions of `srcDir` (layout
    * `partCol=v/`) with `keyCols` → `aggs`, merge into the view at
    * `viewDir`, swap data + ledger in atomically. Returns the
    * partition values consumed this run.
    *
    * `aggs` is (outputName → additive aggregate); the cross-run merge
    * re-sums every output column by key.
    */
  def refresh(spark: SparkSession, srcDir: String, partCol: String,
              viewDir: String,
              keyCols: Seq[String], aggs: Seq[(String, Column)]): Seq[String] = {
    val fs = new Path(viewDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicPublish.recoverIfCrashed(fs, viewDir)
    val have = ledger(spark, viewDir)
    val fresh = Incremental.sourcePartitions(spark, srcDir, partCol)
      .filterNot(have)
    if (fresh.isEmpty) return Seq.empty

    // ONE pass over all new partitions together
    val newParts = spark.read.option("basePath", srcDir)
      .parquet(fresh.map(v => s"$srcDir/$partCol=$v"): _*)
    val partial = newParts.groupBy(keyCols.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    val merged =
      if (!fs.exists(new Path(viewDir, DataDir))) partial
      else read(spark, viewDir)
        .unionByName(partial)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(aggs.head._1).as(aggs.head._1),
          aggs.tail.map { case (n, _) => sum(n).as(n) }: _*)

    swapIn(spark, viewDir, merged, have ++ fresh)
    fresh
  }

  /** Streaming flavor — the `foreachBatch` body for maintaining the
    * same view from a stream: merge micro-batch `batchId` into the
    * stored totals, EXACTLY ONCE. Structured Streaming replays a batch
    * (same id, same data) after a crash between the sink write and the
    * checkpoint commit; recording the batch id in the co-committed
    * ledger makes the replay a no-op instead of a double-count — the
    * additive-merge analog of the idempotent-partition-sink contract
    * `ExactlyOnce.fileIngest` uses.
    *
    * Usage: `stream.writeStream.foreachBatch { (df, id) =>
    *   AggView.mergeBatch(spark, viewDir, id, df, keys, aggs) }`.
    *
    * @return true if the batch merged, false if it was already applied.
    */
  def mergeBatch(spark: SparkSession, viewDir: String, batchId: Long,
                 batch: DataFrame, keyCols: Seq[String],
                 aggs: Seq[(String, Column)]): Boolean = {
    val fs = new Path(viewDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicPublish.recoverIfCrashed(fs, viewDir)
    val tag = s"batch=$batchId"
    val have = ledger(spark, viewDir)
    if (have.contains(tag)) return false
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    val merged =
      if (!fs.exists(new Path(viewDir, DataDir))) partial
      else read(spark, viewDir)
        .unionByName(partial)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(aggs.head._1).as(aggs.head._1),
          aggs.tail.map { case (n, _) => sum(n).as(n) }: _*)
    swapIn(spark, viewDir, merged, have + tag)
    true
  }

  // Crash recovery is the WRITER's: refresh/mergeBatch (one writer per
  // view, the usual streaming-sink contract) roll a `.old` copy back in
  // on entry ([[AtomicPublish.recoverIfCrashed]]), before reading the
  // ledger, so a batch interrupted between the swap's two renames
  // simply re-applies. READERS must never perform that rename: one that
  // "recovers" while the writer is between its renames would make the
  // writer's rename(staging, target) drop the staging dir INSIDE the
  // restored target — the swap reports success, the checkpoint
  // commits, and the batch is silently lost. Readers RESOLVE to the
  // `.old` copy read-only instead ([[resolveDir]]).

  /** Read-only resolution for readers: the live dir normally, the
    * `.old` copy when the view is mid-swap or crashed mid-swap. */
  private def resolveDir(fs: org.apache.hadoop.fs.FileSystem,
                         viewDir: String): String =
    if (fs.exists(new Path(new Path(viewDir), DataDir))) viewDir
    else if (fs.exists(new Path(new Path(viewDir + ".old"), DataDir))) viewDir + ".old"
    else viewDir

  /** Stage data AND ledger, then swap the whole directory in. */
  private def swapIn(spark: SparkSession, viewDir: String,
                     merged: DataFrame, newLedger: Set[String]): Unit =
    AtomicPublish.publishWith(spark, viewDir) { staging =>
      merged.write.mode("overwrite").parquet(new Path(staging, DataDir).toString)
      Sidecar.write(staging.getFileSystem(spark.sparkContext.hadoopConfiguration),
        new Path(staging, LedgerFile), newLedger.toSeq.sorted.mkString("\n"))
    }

  /** The current view contents (read-only — never mutates the dirs). */
  def read(spark: SparkSession, viewDir: String): DataFrame = {
    val fs = new Path(viewDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"${resolveDir(fs, viewDir)}/$DataDir")
  }

  /** Partitions the view already includes (from the co-committed
    * ledger). Read-only: resolves to the `.old` copy mid-swap. */
  def ledger(spark: SparkSession, viewDir: String): Set[String] = {
    val fs = new Path(viewDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sidecar.read(fs, new Path(resolveDir(fs, viewDir), LedgerFile)).fold(Set.empty[String])(
      _.split("\n").map(_.trim).filter(_.nonEmpty).toSet)
  }
}
