package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic table publish: write to a staging directory, gate on the
  * written row count (the reference's A4 count gate,
  * `log_screen.py:305`), then move into place via rename — readers see
  * the old table or the new one, never a half-written mix. Caveat: the
  * swap is TWO renames (target→.old, staging→target), so there is a
  * brief window where the live path is absent and a concurrent reader
  * errors with "path does not exist" (never partial data). When
  * readers must never miss, use [[publishVersionedOcc]], whose pointer
  * flip (_SUCCESS-committed `v=n` prefix) has no such window.
  *
  * The reference's K1 delete-then-append has a visible window where
  * the table is empty or partial between the `preactions` delete and
  * the append commit (`AWS_GLUE_ETL.py:124-132`); staging + rename
  * closes it. On HDFS-like filesystems the rename is O(1) metadata;
  * on object stores it degrades to copy — there the same contract
  * comes from publishing a new versioned prefix and flipping a
  * pointer, which [[publishVersionedOcc]] models.
  */
object AtomicPublish {

  /** Returns the published row count. Fails (and leaves the current
    * table untouched) if `expectedRows` is given and doesn't match.
    */
  def publish(df: DataFrame, table: String,
              expectedRows: Option[Long] = None): Long =
    publishWith(df.sparkSession, table) { staging =>
      df.write.mode("overwrite").parquet(staging.toString)
      val written = df.sparkSession.read.parquet(staging.toString).count()
      expectedRows.foreach { exp =>
        if (written != exp) throw new IllegalStateException(
          s"count gate failed for $table: wrote $written, expected $exp")
      }
      written
    }

  /** The whole-directory swap behind [[publish]], for a caller that
    * writes more than one frame: `stage` fills the staging dir (data,
    * sidecars, ledgers — everything that must move together), then
    * `.staging` replaces the live dir by two renames through `.old`. An
    * exception from `stage` drops the staging dir and leaves the live
    * table untouched. Returns what `stage` returned. */
  def publishWith[A](spark: SparkSession, table: String)(stage: Path => A): A = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(table + ".staging")
    val target = new Path(table)
    val old = new Path(table + ".old")
    recoverIfCrashed(fs, table)
    fs.delete(staging, true)
    val out =
      try stage(staging)
      catch { case e: Throwable => fs.delete(staging, true); throw e }
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new IllegalStateException(
        s"publish failed for $table: could not move current table aside " +
          "(live table left untouched, new data remains in .staging)")
    if (!fs.rename(staging, target))
      throw new IllegalStateException(s"publish rename failed for $table")
    fs.delete(old, true)
    out
  }

  /** Crash recovery for [[publishWith]]'s swap: dying between its two
    * renames leaves the table absent with the only copy in `.old` — and
    * an unrecovered NEXT publish would delete that copy first thing.
    * Rolls the old copy back in. A writer runs it before reading the
    * table it is about to replace; readers must not (see
    * [[AggView]]'s read-only resolution). */
  private[io] def recoverIfCrashed(fs: org.apache.hadoop.fs.FileSystem,
                                   table: String): Unit = {
    val target = new Path(table)
    val old = new Path(table + ".old")
    if (!fs.exists(target) && fs.exists(old) && !fs.rename(old, target))
      throw new IllegalStateException(s"publish crash recovery failed for $table")
  }

  def currentVersion(spark: SparkSession, table: String): Option[Long] = {
    val base = new Path(table)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return None
    val versions = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
    if (versions.isEmpty) None else Some(versions.max)
  }

  def readCurrent(spark: SparkSession, table: String): DataFrame = {
    val v = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(s"no committed version under $table"))
    spark.read.parquet(s"$table/v=$v")
  }

  /** Read a specific committed version — the versioned layout's time
    * travel. Uncommitted (no `_SUCCESS`) or absent versions are an
    * error, same contract as [[readCurrent]]. */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame = {
    val dir = new Path(s"$table/v=$v")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(dir, "_SUCCESS")),
      s"version $v under $table is absent or uncommitted")
    spark.read.parquet(dir.toString)
  }

  /** Row-level diff between two committed versions keyed by `keyCols`:
    * one row per changed key with change = insert | delete | update.
    * Change detection hashes the full row (minus key) on each side of
    * ONE full outer join on the key — no column enumeration in the
    * caller, no driver-side compare; at scale this is a single keyed
    * shuffle of the two versions, the same cost class as the SCD2
    * merge (q28). The version pair a retention sweep keeps is exactly
    * what this consumes — audit of what a publish changed, after the
    * fact. */
  def diffVersions(spark: SparkSession, table: String, keyCols: Seq[String],
                   vOld: Long, vNew: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    def sided(v: Long, side: String): DataFrame = {
      val df = readVersion(spark, table, v)
      val nonKey = df.columns.filterNot(keyCols.contains).sorted
      df.select(keyCols.map(col) :+
        hash(nonKey.map(col): _*).as(s"${side}_hash"): _*)
    }
    sided(vOld, "old").join(sided(vNew, "new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("old_hash").isNull, "insert")
          .when(col("new_hash").isNull, "delete")
          .when(col("old_hash") =!= col("new_hash"), "update"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  // -------------------------------------------------------------------------
  // Multi-table snapshot publish — the reference's alias flip, cross-table
  // -------------------------------------------------------------------------

  private val ManifestDir = "_manifest"

  /** Publish SEVERAL tables as one atomic snapshot. The reference's
    * T4/T5 tier builds date-suffixed indexes (`hr_emp_center_20230301`
    * etc., `Elastic_indexing.py:193-214`, the index families in
    * `index_counts.ipynb`) and flips serving to the new set at once —
    * the per-table pointer ([[publishVersionedOcc]]) can't give that
    * cross-table guarantee: a reader could see table A at v2 joined
    * against table B at v1. Here every table writes under
    * `base/<name>/v=<n>/` and ONE manifest file `base/_manifest/v=<n>`
    * — written last, listing the member tables — is the commit point.
    * A crash after some table writes but before the manifest leaves
    * the previous snapshot fully visible; the orphaned `v=<n>` dirs
    * are retried/overwritten by the next publish.
    *
    * @return the committed snapshot version.
    */
  def publishSnapshot(tables: Map[String, DataFrame], base: String): Long = {
    require(tables.nonEmpty, "empty snapshot")
    val spark = tables.head._2.sparkSession
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = currentSnapshot(spark, base).getOrElse(0L) + 1
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$base/$name/v=$next")
    }
    // The manifest IS the commit point, so it must appear atomically:
    // write the member list to a dot-prefixed temp (invisible to
    // currentSnapshot's v= filter) and rename into place — the same
    // rename-commit discipline as TargetedDelete's journal and
    // AggView's pointer. An in-place create/write/close had a torn
    // window: a crash mid-write left a truncated member list at v=n
    // that readers treated as committed (table A at v=n joined with
    // table B resolving to v=n-1 — exactly the state this API exists
    // to prevent) and that no later publish retried (next = n+1).
    // An orphaned temp from a crash is harmless: filtered by the v=
    // prefix, and overwritten when the version number is retried.
    val mf = new Path(basePath, s"$ManifestDir/v=$next")
    val tmp = new Path(basePath, s"$ManifestDir/.v=$next.tmp")
    fs.mkdirs(mf.getParent)
    val out = fs.create(tmp, true)
    try out.write(tables.keys.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, mf))
      throw new IllegalStateException(s"snapshot commit rename failed: $tmp -> $mf")
    next
  }

  // ==========================================================================
  // Optimistic concurrency for the versioned layout
  // ==========================================================================

  /** Stage a full write (data + `_SUCCESS`) under a dot-prefixed tx
    * directory — invisible to `currentVersion`'s `v=` filter, so a
    * crash here orphans bytes but never corrupts the table. The
    * expensive half of an OCC publish; committing is one rename.
    */
  def stageVersion(df: DataFrame, table: String): Path =
    stageVersionWith(table)(p => df.write.mode("overwrite").parquet(p))

  /** [[stageVersion]] with the writer inverted — for stagers that
    * need a non-default layout (e.g. `SortedLayout.writeRangeSorted`
    * for a DerivedStore tier). The writer MUST leave a `_SUCCESS`
    * marker (any Spark parquet write does); [[commitStaged]] treats
    * it as the commit record. */
  def stageVersionWith(table: String)(write: String => Unit): Path = {
    val staging = new Path(s"$table/.tx-${java.util.UUID.randomUUID()}")
    write(staging.toString)
    staging
  }

  /** Try to commit staged data as version `v`. Returns false — and
    * leaves the staging directory intact for a retry at a higher
    * version — when another writer committed `v` first. On HDFS the
    * no-overwrite rename IS the atomic arbiter; on local/posix-like
    * filesystems a rename onto an existing directory can NEST the
    * source inside it, so the commit verifies and un-nests (the
    * verify-after pattern; the loser backs out losing nothing).
    */
  def commitStaged(spark: SparkSession, table: String,
                   staging: Path, v: Long): Boolean = {
    val dst = new Path(s"$table/v=$v")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dst)) return false
    if (!fs.rename(staging, dst)) return false
    val nested = new Path(dst, staging.getName)
    if (fs.exists(nested)) { // lost the race on a nesting filesystem
      fs.rename(nested, staging)
      return false
    }
    fs.exists(new Path(dst, "_SUCCESS"))
  }

  /** Multi-writer-safe versioned publish: stage once, then race for
    * the next version number, retrying at higher numbers on loss —
    * the data is never rewritten across attempts, only the O(1)
    * commit rename repeats. Both racers' versions end up committed
    * (no lost update, serialized by version number), which is exactly
    * Delta/Iceberg's optimistic protocol reduced to this layout.
    * Readers resolve the highest committed `v=<n>` ([[readCurrent]]);
    * older versions stay readable as snapshots until [[Vacuum.sweep]]
    * drops them.
    */
  def publishVersionedOcc(df: DataFrame, table: String,
                          maxAttempts: Int = 5): Long =
    commitStagedOcc(df.sparkSession, table, stageVersion(df, table), maxAttempts)

  /** The OCC commit loop on already-staged data: race for the next
    * version number, retrying at higher numbers on loss (the staged
    * bytes are never rewritten — only the O(1) commit rename repeats).
    * Shared by [[publishVersionedOcc]] and `DerivedStore`'s tier
    * publication, so the protocol exists exactly once. */
  def commitStagedOcc(spark: SparkSession, table: String, staging: Path,
                      maxAttempts: Int = 5): Long = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val next = currentVersion(spark, table).getOrElse(0L) + 1
      if (commitStaged(spark, table, staging, next)) return next
      attempt += 1
    }
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staging, true)
    throw new IllegalStateException(
      s"versioned OCC publish lost $maxAttempts version races on $table")
  }

  /** Highest committed snapshot (manifest is the commit record). */
  def currentSnapshot(spark: SparkSession, base: String): Option[Long] = {
    val dir = new Path(base, ManifestDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val vs = fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def manifestTables(fs: org.apache.hadoop.fs.FileSystem,
                             base: String, v: Long): Set[String] = {
    val in = fs.open(new Path(base, s"$ManifestDir/v=$v"))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
    finally in.close()
  }

  /** Read `table` at its latest COMMITTED snapshot, resolved through
    * the manifest's MEMBER LIST — never by directory presence. A
    * crashed publish can leave an orphaned uncommitted `<table>/v=N`
    * dir whose version number a LATER commit of a different table set
    * reuses; trusting `currentSnapshot` alone would serve that orphan
    * as committed. Walking manifests newest-first also resolves a
    * table that simply wasn't part of the most recent publish to its
    * own last committed version.
    */
  def readSnapshot(spark: SparkSession, base: String, table: String): DataFrame = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val top = currentSnapshot(spark, base).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $base"))
    val v = (top to 1L by -1L)
      .find(v => fs.exists(new Path(base, s"$ManifestDir/v=$v")) &&
                 manifestTables(fs, base, v).contains(table))
      .getOrElse(throw new IllegalStateException(
        s"table '$table' is in no committed snapshot under $base"))
    spark.read.parquet(s"$base/$table/v=$v")
  }
}
