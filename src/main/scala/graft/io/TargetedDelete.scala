package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
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
  * Visibility: the survivors move in before the affected files go
  * ([[InPlaceSwap]], journaled and replayed on the next entry after a
  * crash) — a concurrent reader can see survivors twice during the
  * swap window, never a lost survivor. For serving tables, compose with
  * [[AtomicPublish.publishVersionedOcc]] instead (write the post-delete
  * table as version n+1); this in-place flavor is for the
  * pipeline-internal stores where the writer owns the directory.
  */
object TargetedDelete {

  /** `discovery`: how the affected files were found — "manifest"
    * (zone-map pruned) or "scan" (pushdown scan). */
  case class Report(rowsDeleted: Long, filesRewritten: Long, filesTotal: Long,
                    discovery: String)

  /** Delete rows whose `idCol` is in `ids` from the parquet table at
    * `table`, first finishing any swap a crashed call left behind.
    * Returns per-file accounting. */
  def deleteIds(spark: SparkSession, table: String, idCol: String,
                ids: Seq[Long]): Report =
    InPlaceSwap.run(spark, table, InPlaceSwap.Takedown) { case Seq(staging) =>
      stage(spark, table, idCol, ids, staging)
    }

  /** Discovery, and the affected files' survivors written to `staging`:
    * the swap's plan. */
  private def stage(spark: SparkSession, table: String, idCol: String,
                    ids: Seq[Long], staging: Path): InPlaceSwap.Plan[Report] = {
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
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

    if (affectedFiles.isEmpty)
      return InPlaceSwap.Plan(Report(0L, 0L, filesTotal, discovery))

    val affected = spark.read.parquet(affectedFiles: _*)
    val rowsDeleted = affected.filter(col(idCol).isin(ids: _*)).count()
    val kept = affected.filter(!col(idCol).isin(ids: _*))

    // rewrite survivors of the affected files into a staging dir
    // (invisible to readers), then swap them in for the affected files
    // ([[InPlaceSwap]]: journaled, crash-replayable, zone map kept
    // truthful; survivors twice at worst, never survivor loss)
    kept.write.mode("overwrite").parquet(staging.toString)
    val stamp = System.currentTimeMillis()
    val moves = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).zipWithIndex
      .map { case (p, i) => p -> f"deleted-rewrite-$stamp%d-$i%04d.parquet" }
    // the in-place-mutator discipline extends to every derived copy a
    // publisher left beside the data, dropped BEFORE the swap's journal
    // lands so no crash point can leave one behind (all three are
    // advisory: absence means fall back):
    //  - a compacted survivors version's hidden `_syncdelta` (the
    //    rewrite night's exact delta for syncCorpus) still holds the
    //    just-deleted rows — leaving it would let the next corpus sync
    //    RESURRECT a taken-down doc; sync falls back to the
    //    manifest-pruned base scan;
    //  - a bucketed tier's `_buckets` is a lie after this rewrite — the
    //    survivor files land under non-bucket names, so a later bucketed
    //    patch trusting it would byte-copy rows its name-keyed anti-join
    //    never saw; the next serve routes to the full rebuild;
    //  - the publish-time `_stats` now overcounts the deleted rows; no
    //    sidecar means file-size estimates, and the signed
    //    TierStatsCatalog entry self-evicts at the next plan because its
    //    recorded len:mtime signature no longer matches.
    Seq(graft.streaming.StreamTierIngest.SyncDeltaDir, DerivedStore.BucketsFile,
      DerivedStore.RowStatsFile).foreach(n => fs.delete(new Path(table, n), true))
    InPlaceSwap.Plan(Report(rowsDeleted, affectedFiles.length.toLong, filesTotal, discovery),
      moves.toSeq, affectedFiles.map(f => new Path(new java.net.URI(f))).toSeq)
  }
}
