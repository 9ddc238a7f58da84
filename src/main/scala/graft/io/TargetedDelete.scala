package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Surgical row deletion from a parquet table — the takedown/GDPR
  * primitive a corpus store needs that the reference's
  * delete-then-append sink (K1) can only do as a FULL table rewrite.
  *
  * Delete cost here is proportional to the files that actually
  * contain target rows, not to the table. Affected-file discovery is
  * layered (r11 verdict #4): when the table carries a `_filemap` zone
  * map on the id column ([[ZoneMap]] — written at publish beside
  * `SortedLayout.writeRangeSorted`'s disjoint ranges), candidates come
  * from ONE driver-side manifest read — no footer opens at all for the
  * non-candidates; otherwise a pushdown-filtered scan (parquet min/max
  * stats prune non-overlapping files) identifies them. ONLY affected
  * files are rewritten minus the targets; untouched files are left
  * byte-identical on disk. At 100 TB with a sorted layout, deleting a
  * handful of documents rewrites a handful of files — and with the
  * manifest, discovers them without listing-then-opening 200k footers.
  *
  * Visibility: the swap is delete-old-then-keep-new within the live
  * directory — a concurrent reader can see a partial view during the
  * swap window. For serving tables, compose with
  * [[AtomicPublish.publishVersionedOcc]] instead (write the post-delete
  * table as version n+1); this in-place flavor is for the
  * pipeline-internal stores where the writer owns the directory.
  */
object TargetedDelete {

  /** `discovery`: how the affected files were found — "manifest"
    * (zone-map pruned) or "scan" (pushdown scan). */
  case class Report(rowsDeleted: Long, filesRewritten: Long, filesTotal: Long,
                    discovery: String)

  private def journalPath(table: String) = new Path(table + ".delete-journal")
  private def manifestStaging(table: String) = new Path(table + ".filemap-staging")

  /** Crash recovery for the swap. The journal is written AFTER staging
    * completes and BEFORE any table mutation; it records the full swap
    * plan (`mv` staged→dest renames, `old` files to delete) and ends
    * with an `END` marker. On entry:
    *  - no journal → no crash, nothing to do (a stray manifest-staging
    *    dir from a pre-journal crash is still discarded — the live
    *    manifest was untouched and stays authoritative);
    *  - journal without `END` → died writing the journal itself, so
    *    the table was never touched: discard journal + staging;
    *  - complete journal → REPLAY it: finish any missing renames
    *    (both sides idempotent — a rename already done leaves no src),
    *    delete the old files, drop staging and the journal. The zone
    *    map was dropped before the journal was written (see
    *    [[deleteIds]]'s ordering), so after replay the table simply
    *    has no manifest — callers fall back to the pushdown scan until
    *    the next publish or delete rebuilds it. A stale manifest can
    *    never survive a crash, which matters because a manifest —
    *    unlike a parquet footer — CAN mis-prune if it lies.
    */
  private def recoverIfCrashed(fs: org.apache.hadoop.fs.FileSystem,
                               table: String): Unit = {
    fs.delete(manifestStaging(table), true): Unit
    val j = journalPath(table)
    Sidecar.read(fs, j).foreach { journal =>
      val lines = journal.split("\n").filter(_.nonEmpty)
      if (lines.lastOption.contains("END")) replay(fs, lines)
      fs.delete(new Path(table + ".delete-staging"), true)
      fs.delete(j, false): Unit
    }
  }

  private def replay(fs: org.apache.hadoop.fs.FileSystem,
                     lines: Array[String]): Unit =
    lines.foreach {
      case l if l.startsWith("mv\t") =>
        val Array(_, src, dest) = l.split("\t", 3)
        val (s, d) = (new Path(src), new Path(dest))
        if (fs.exists(s) && !fs.exists(d))
          require(fs.rename(s, d), s"recovery rename $s -> $d failed")
      case l if l.startsWith("old\t") =>
        fs.delete(new Path(new java.net.URI(l.stripPrefix("old\t"))), false): Unit
      case _ => ()
    }

  /** Delete rows whose `idCol` is in `ids` from the parquet table at
    * `table`. Returns per-file accounting. */
  def deleteIds(spark: SparkSession, table: String, idCol: String,
                ids: Seq[Long]): Report = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverIfCrashed(fs, table)
    // file population from ONE recursive listing (nested/partitioned
    // layouts included — the scan discovery path supports them, so the
    // accounting must too) — counting via a distinct(input_file_name())
    // scan read every row of the table just to count its files
    val filesTotal =
      graft.core.Tables.filesAt(spark, new Path(table)).fold(0L)(_.size.toLong)

    // discovery: the zone map answers "which files CAN hold a target
    // id" from the driver-side manifest alone; only those candidates
    // are then scanned for true hits. A missing or foreign-key
    // manifest falls back to the pushdown-filtered scan (parquet
    // stats still prune at the footer level).
    val manifest = ZoneMap.manifestOf(spark, table)
    val idManifest = manifest.filter(_.key == idCol)
    val discovery = if (idManifest.isDefined) "manifest" else "scan"
    val affectedFiles: Array[String] = idManifest match {
      case Some(m) =>
        val cands = m.candidateFilesForKeys(ids)
        if (cands.isEmpty) Array.empty
        else spark.read.option("basePath", table)
          .parquet(cands.map(f => s"$table/$f"): _*)
          .filter(col(idCol).isin(ids: _*))
          .select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0))
      case None =>
        spark.read.parquet(table)
          .filter(col(idCol).isin(ids: _*))
          .select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0))
    }

    if (affectedFiles.isEmpty) return Report(0L, 0L, filesTotal, discovery)

    val affected = spark.read.parquet(affectedFiles: _*)
    val rowsDeleted = affected.filter(col(idCol).isin(ids: _*)).count()
    val kept = affected.filter(!col(idCol).isin(ids: _*))

    // rewrite survivors of the affected files into a staging dir
    // (invisible to readers), then swap under a journal: the complete
    // swap plan — staged→dest renames first, old-file deletes second —
    // commits to the journal BEFORE the first table mutation, so any
    // crash leaves either an untouched table (journal incomplete) or a
    // replayable plan (journal complete, every step idempotent). The
    // rename-before-delete ORDER inside the plan means the worst
    // transient state a reader sees is survivors twice, never survivor
    // loss.
    val staging = new Path(table + ".delete-staging")
    fs.delete(staging, true)
    kept.write.mode("overwrite").parquet(staging.toString)
    val staged = fs.listStatus(staging).filter(_.getPath.getName.endsWith(".parquet"))
    val stamp = System.currentTimeMillis()
    val moves = staged.zipWithIndex.map { case (st, i) =>
      st.getPath -> new Path(table, f"deleted-rewrite-$stamp%d-$i%04d.parquet")
    }

    // zone-map maintenance, delta-cost: the next manifest = old
    // entries minus the affected files, plus the staged files' stats
    // (computed from the staging dir, renamed to their destination
    // basenames). Built and staged BEFORE the table mutates; the live
    // manifest is dropped before the journal lands and the staged one
    // renamed in only after the swap completes, so a crash anywhere in
    // between leaves NO manifest (scan fallback) rather than a lying
    // one.
    val manifestStaged = manifest.map { m =>
      val affectedNames = affectedFiles.map(new Path(_).getName).toSet
      val keptEntries = spark.read.parquet(s"$table/${ZoneMap.ManifestDir}")
        .filter(!col("file").isin(affectedNames.toSeq: _*))
      val destByStaged = moves.map { case (s, d) => s.getName -> d.getName }.toSeq
      val next =
        if (destByStaged.isEmpty) keptEntries // every affected row deleted
        else {
          val renames = spark.createDataFrame(destByStaged).toDF("file", "dest")
          keptEntries.unionByName(
            ZoneMap.statsOf(spark, staging.toString, m.key)
              .join(renames, "file")
              .select(col("dest").as("file"), col("fmin"), col("fmax"), col("kname")))
        }
      val ms = manifestStaging(table)
      fs.delete(ms, true)
      next.coalesce(1).write.parquet(ms.toString)
      ms
    }
    manifest.foreach(_ =>
      fs.delete(new Path(table, ZoneMap.ManifestDir), true): Unit)

    val j = journalPath(table)
    Sidecar.write(fs, j, (
      moves.map { case (s, d) => s"mv\t$s\t$d" } ++
      affectedFiles.map(f => s"old\t$f") :+ "END").mkString("\n"))
    moves.foreach { case (s, d) =>
      require(fs.rename(s, d), s"rename $s -> $d failed")
    }
    affectedFiles.foreach(f => fs.delete(new Path(new java.net.URI(f)), false))
    fs.delete(staging, true)
    fs.delete(j, false)
    manifestStaged.foreach { ms =>
      require(fs.rename(ms, new Path(table, ZoneMap.ManifestDir)),
        s"manifest swap $ms failed")
    }
    // the in-place-mutator discipline extends to every derived copy a
    // publisher left beside the data: a compacted survivors version
    // carries a hidden _syncdelta (the rewrite night's exact delta for
    // syncCorpus) that still holds the just-deleted rows — leaving it
    // would let the next corpus sync RESURRECT a taken-down doc. Drop
    // it; sync falls back to the manifest-pruned base scan.
    fs.delete(new Path(table, graft.streaming.StreamTierIngest.SyncDeltaDir),
      true): Unit
    // a bucketed tier's layout sidecar is a lie after this rewrite —
    // the survivor files land under non-bucket names, so a later
    // bucketed patch trusting `_buckets` would byte-copy rows its
    // name-keyed anti-join never saw (r13 advice #1; belt to the merge
    // precondition's braces, which also rejects foreign names). Drop
    // it: the next serve routes to the full rebuild, which restores
    // the layout and a truthful sidecar.
    fs.delete(new Path(table, DerivedStore.BucketsFile), false): Unit
    // the publish-time `_stats` sidecar now overcounts the deleted
    // rows; a dropped sidecar means "no stats" (file-size estimates),
    // and the signed TierStatsCatalog entry self-evicts at the next
    // plan because its recorded len:mtime signature no longer matches
    fs.delete(new Path(table, DerivedStore.RowStatsFile), false): Unit
    Report(rowsDeleted, affectedFiles.length.toLong, filesTotal, discovery)
  }
}
