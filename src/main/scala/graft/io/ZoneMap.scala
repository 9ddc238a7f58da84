package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-grain zone maps: a `_filemap` manifest (one row per data file:
  * basename, key min, key max) written at publish time beside a
  * range-sorted table, so keyed reads prune FILES from one tiny
  * driver-side manifest read instead of opening every parquet footer.
  *
  * Parquet's own row-group stats already prune — but only after the
  * scan has LISTED and OPENED every footer, which at a 200k-file tier
  * is 200k round trips per lookup on an object store. The manifest
  * answers the same min/max question in one read: the version-level
  * key range of `DerivedStore`'s `_stats` record, down to file grain
  * (r11 verdict #4). `SortedLayout.writeRangeSorted` makes the ranges
  * disjoint, so a point key matches ≤2 files (one, or two when it
  * lands on a file boundary).
  *
  * Contract: flat layouts (files directly under the table dir — what
  * SortedLayout writes and what `TargetedDelete` operates on); the
  * manifest is advisory — a missing or foreign-key manifest makes
  * callers fall back to the footer-pruned scan, never a wrong answer.
  * Writers that mutate the table in place must drop or rebuild the
  * manifest across the mutation ([[InPlaceSwap]] does), since a stale
  * manifest — unlike a stale footer — CAN mis-prune.
  */
object ZoneMap {

  val ManifestDir = "_filemap"

  /** A loaded manifest: the summarized key and (file basename, fmin,
    * fmax) per data file. */
  final case class Manifest(key: String, entries: Seq[(String, Any, Any)]) {

    /** Files whose [fmin, fmax] could hold ANY of `keys`. */
    def candidateFilesForKeys(keys: Seq[Any]): Seq[String] =
      entries.collect {
        case (f, lo, hi) if keys.exists(k => leq(lo, k) && leq(k, hi)) => f
      }

    /** Files whose [fmin, fmax] intersects [lo, hi]. */
    def candidateFilesForRange(lo: Any, hi: Any): Seq[String] =
      entries.collect { case (f, flo, fhi) if leq(flo, hi) && leq(lo, fhi) => f }
  }

  /** Conservative ordering over manifest values: comparable pairs
    * compare; anything else (nulls from all-null files, NaN/Infinity
    * stats from float keys, type drift) answers true, which keeps the
    * file a CANDIDATE — the safe direction for a pruning structure. */
  private def leq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, _) | (_, null) => true
    case (x: java.lang.Number, y: java.lang.Number) =>
      // Try: BigDecimal rejects NaN/Infinity — non-finite stats must
      // keep the file a candidate, not crash the prune
      scala.util.Try(BigDecimal(x.toString) <= BigDecimal(y.toString))
        .getOrElse(true)
    case (x: String, y: String) =>
      // Manifest fmin/fmax come from Spark min/max, which orders strings
      // by UTF-8 bytes (unsigned). Java's String ordering is UTF-16 code
      // units — the two diverge between supplementary-plane chars
      // (surrogate pairs, 0xF0.. in UTF-8) and U+E000..U+FFFF (0xEE..0xEF
      // in UTF-8), so comparing with String.<= could wrongly EXCLUDE a
      // file that holds the key. Compare the UTF-8 bytes unsigned.
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y) <= 0
    case _ => true
  }

  private def basenameOf = element_at(split(input_file_name(), "/"), -1)

  /** Per-file (basename, min, max) of `key` over the data files at
    * `dir` — one pruned-column pass. */
  private[graft] def statsOf(s: SparkSession, dir: String, key: String): DataFrame =
    statsOfFrame(s.read.parquet(dir), key)

  /** [[statsOf]] over an already-constructed scan (a specific file
    * subset — the LSM append's new runs). */
  private[graft] def statsOfFrame(df: DataFrame, key: String): DataFrame =
    df.groupBy(basenameOf.as("file"))
      .agg(min(col(key)).as("fmin"), max(col(key)).as("fmax"))
      .withColumn("kname", lit(key))

  /** Write the manifest for `tableDir` keyed on `key`. Call after the
    * table's data files are in place (publish staging, post-build);
    * the cost is one column-pruned pass over data just written. */
  def write(s: SparkSession, tableDir: String, key: String): Unit =
    statsOf(s, tableDir, key)
      .coalesce(1).write.mode("overwrite").parquet(s"$tableDir/$ManifestDir")

  /** Per-path manifest memo (r12 verdict #3): a loaded manifest is
    * cached against a content signature (child name+length+mtime from
    * the SAME listStatus that replaces the old existence check), so a
    * repeated keyed read of a version costs one metadata RPC instead
    * of a driver-side Spark read job. Self-validating: any rewrite of
    * the manifest — an [[InPlaceSwap]] restage, even a foreign process
    * — lands a new part-file name/mtime and misses the cache, so no
    * mutation site needs to know the cache exists (path-identity-only
    * memoization could not promise that).
    * Bounded by an LRU (r13 verdict #4: the previous clear-all-at-cap
    * backstop cold-restarted EVERY table's manifest the moment one
    * more than the cap was read) — a memo, never a correctness
    * structure. */
  private val memo = new graft.core.LruMap[String, (String, Manifest)](512)

  /** The manifest at `tableDir`, whatever key it summarizes; None when
    * absent or unreadable (a half-written manifest must degrade to the
    * scan path, not fail the read). */
  def manifestOf(s: SparkSession, tableDir: String): Option[Manifest] = {
    val p = new Path(tableDir, ManifestDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    scala.util.Try {
      fs.listStatus(p).map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(";")
    }.toOption match {
      case None => None // dir absent or unlistable: the scan fallback
      case Some(sig) =>
        val qp = fs.makeQualified(p).toString
        memo.get(qp).collect { case (g, m) if g == sig => m }
          .orElse {
            val loaded = scala.util.Try {
              val rows = s.read.parquet(p.toString).collect()
              rows.headOption.map { h =>
                Manifest(h.getAs[String]("kname"),
                  rows.toSeq.map(r => (r.getAs[String]("file"),
                    r.get(r.fieldIndex("fmin")), r.get(r.fieldIndex("fmax")))))
              }
            }.toOption.flatten
            loaded.foreach(m => memo.put(qp, (sig, m)))
            loaded
          }
    }
  }

  /** [[manifestOf]] restricted to manifests that summarize `key` — a
    * foreign-key manifest must not prune this probe. */
  def manifestFor(s: SparkSession, tableDir: String, key: String): Option[Manifest] =
    manifestOf(s, tableDir).filter(_.key == key)

  /** Delta-cost manifest maintenance, shared by every partial publish
    * (LSM appends, bucketed patches, the stream fold's batch manifest):
    * next = prev entries — restricted to `keptNames` when given (the
    * files that moved as bytes) — plus ONE stats pass over `newFiles`.
    * A prev manifest keyed on a DIFFERENT column cannot be merged
    * (mixed-key entries would mis-prune), so it recomputes in full. */
  def mergeManifest(s: SparkSession, prevTableDir: String, destDir: String,
                    key: String, newFiles: Seq[String],
                    keptNames: Option[Set[String]] = None): Unit =
    manifestFor(s, prevTableDir, key) match {
      case Some(_) =>
        val prevRows = s.read.parquet(s"$prevTableDir/$ManifestDir")
        val kept = keptNames.fold(prevRows)(ks =>
          prevRows.filter(col("file").isin(ks.toSeq: _*)))
        val next =
          if (newFiles.isEmpty) kept
          else kept.unionByName(statsOfFrame(
            s.read.option("basePath", destDir).parquet(newFiles: _*), key))
        next.coalesce(1).write.mode("overwrite")
          .parquet(s"$destDir/$ManifestDir")
      case None => write(s, destDir, key)
    }

  /** Read `tableDir` pruned to the files that can hold any of `keys`
    * (the caller still applies the exact key predicate — the manifest
    * only shrinks the file set). Falls back to the full footer-pruned
    * scan when no manifest covers `key`; an empty candidate set reads
    * as an empty (correctly-typed) frame without touching any file's
    * footer. */
  def scanForKeys(s: SparkSession, tableDir: String, key: String,
                  keys: Seq[Any]): DataFrame =
    manifestFor(s, tableDir, key) match {
      case Some(m) =>
        m.candidateFilesForKeys(keys) match {
          case Seq() =>
            // schema from ONE file of the ALREADY-loaded manifest (a
            // second read could race a concurrent manifest drop and
            // crash where the contract is fall-back-never-fail);
            // entries are nonempty by manifestOf's construction
            s.read.parquet(s"$tableDir/${m.entries.head._1}").filter(lit(false))
          case files =>
            s.read.option("basePath", tableDir)
              .parquet(files.map(f => s"$tableDir/$f"): _*)
        }
      case None => s.read.parquet(tableDir)
    }
}
