package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Layout-aware writer: range-partition + sort-within-partition before
  * writing parquet.
  *
  * The reference's backups land unordered (`BkupRs.py:272-280` appends
  * whatever partitioning the scan produced). At 100 TB the layout IS
  * the index: writing each file as a disjoint sorted key range means
  * (a) parquet row-group min/max stats become selective — a point or
  * range predicate on the layout key prunes whole files/row groups at
  * plan time, and (b) downstream merge-style reads see locality
  * (near-dup fingerprints, time windows, user sessions cluster into
  * the same files).
  *
  * `repartitionByRange` samples the key distribution (reservoir per
  * partition) so skewed keys still yield balanced files — the same
  * mechanism Spark uses for global `orderBy`, minus the final merge.
  */
object SortedLayout {

  /** Write `df` as `numFiles` parquet files with globally disjoint,
    * internally sorted ranges of `keys`, replacing `path`.
    */
  def writeRangeSorted(df: DataFrame, path: String, numFiles: Int,
                       keys: Column*): Unit =
    writeRangeSorted(df, path, numFiles, SaveMode.Overwrite, keys: _*)

  /** [[writeRangeSorted]] under save mode `mode` — `Append` lands the
    * files as sorted runs beside what `path` already holds (an LSM
    * store's minor compaction). */
  def writeRangeSorted(df: DataFrame, path: String, numFiles: Int, mode: SaveMode,
                       keys: Column*): Unit =
    df.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode(mode).parquet(path)

  /** Per-file (min, max) of `key` for a directory written by
    * [[writeRangeSorted]] — the audit surface: ranges must not overlap.
    */
  def fileRanges(df: DataFrame, key: String): Array[(String, Any, Any)] = {
    import org.apache.spark.sql.Row
    df.select(input_file_name().as("f"), col(key))
      .groupBy("f").agg(min(key).as("lo"), max(key).as("hi"))
      .orderBy("lo")
      .collect()
      .map { case Row(f: String, lo, hi) => (f, lo, hi) }
  }

  // =========================================================================
  // Z-order: two-dimension clustering
  // =========================================================================

  private val ZBits = 16

  /** Interleave the low 16 bits of `x` (odd positions) and `y` (even):
    * nearby (x, y) points share z-value prefixes, so sorting by z
    * clusters both dimensions at once. Pure bit arithmetic —
    * whole-stage codegen'd, no UDF.
    */
  def zValue(x: Column, y: Column): Column =
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(x, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftrightunsigned(y, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Write `df` z-ordered on two numeric/temporal dimensions: each is
    * linearly scaled to 16 bits against its observed min/max, bit-
    * interleaved, and the z-value drives range partitioning + in-file
    * sort. A single-dimension sort ([[writeRangeSorted]]) gives
    * perfect pruning on ONE predicate column and none on others; the
    * z-curve gives good (√-factor) pruning on BOTH — the right layout
    * when scans filter sometimes by time, sometimes by key, and a
    * 100 TB table can't afford two copies.
    *
    * Linear scaling keeps skewed dimensions correct (pruning quality
    * degrades, never results); swap in quantile-rank scaling when the
    * distribution is pathological.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
                    dimX: Column, dimY: Column): Unit = {
    val (x, y) = (dimX.cast("double"), dimY.cast("double"))
    val Array(xlo, xhi, ylo, yhi) =
      df.agg(min(x), max(x), min(y), max(y)).head().toSeq
        .map(v => v.asInstanceOf[Double]).toArray
    def scaled(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else round((c - lit(lo)) / lit(hi - lo) * lit((1 << ZBits) - 1)).cast("long")
    df.withColumn("__z", zValue(scaled(x, xlo, xhi), scaled(y, ylo, yhi)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
