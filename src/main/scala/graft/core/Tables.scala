package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the TESTDATA star schema (see TESTDATA.md at the repo root).
  *
  * Mirrors the reference's tiered-table loads (S1 in SURVEY.md §2.1:
  * full-table warehouse scans,
  * `Talent_Opportunity_Platform/Keyword.py:128-153`) as plain parquet
  * scans so Catalyst gets vectorized reads, predicate pushdown and
  * column pruning for free.
  *
  * Each table is resolved once per file listing. A `spark.read.parquet`
  * runs a schema-inference job (the parquet footer read) before the
  * query is even built, so [[load]] — and through it [[loadParallel]]
  * and [[registerAll]] — goes through one memo:
  *  - What is memoized: metadata only — the read's analyzed
  *    `LogicalRelation`, the file listing and session confs it was read
  *    under, and (once [[loadParallel]] asks) its scan's partition
  *    count. Never data, results or CacheManager entries.
  *  - Key: the session and the table's qualified path. A child session
  *    resolves its own relation.
  *  - Check: every load lists the table's data files ([[sourceFiles]]:
  *    relative path, length, mtime). Any added, removed or rewritten
  *    file, or a changed read conf, re-reads with `spark.read.parquet`,
  *    so the schema is re-inferred exactly as an unmemoized read would
  *    and drift (the r4→r5 `events.ts` change) shows the same way.
  *  - Fresh instance: a hit re-wraps `relation.newInstance()`, so every
  *    load gets new attribute ids and two loads of one table self-join
  *    by column reference.
  *  - Bounded: an [[LruMap]] of [[MemoCap]] entries.
  *
  * A missing table fails exactly like a plain read and is never
  * memoized. The same memo resolves a parquet dir by path ([[loadAt]]):
  * a tier version the engine itself committed is read once per file
  * listing too, not re-inferred per serve.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalized(spark, name, resolved(spark, dir, name).frame())

  /** Some of a table's data files — an append-only refresh's delta —
    * read with the table root as `basePath` (so partition columns of a
    * partitioned layout survive) and normalized exactly like [[load]].
    * A single-file table is read as is: Spark rejects a file as
    * `basePath`. */
  def loadFiles(spark: SparkSession, dir: String, name: String,
                files: Seq[String]): DataFrame = {
    val root = new Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader =
      if (fs.exists(root) && fs.getFileStatus(root).isDirectory)
        spark.read.option("basePath", root.toString)
      else spark.read
    normalized(spark, name, reader.parquet(files: _*))
  }

  private def normalized(spark: SparkSession, name: String,
                         df: DataFrame): DataFrame =
    // events.ts has drifted across TESTDATA generations:
    //  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; Sessions
    //    sets spark.sql.legacy.parquet.nanosAsLong so it arrives as a long
    //    of epoch nanos. Integer-divide (not /, which would go through
    //    double and lose precision above 2^53) down to micros.
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false): read as TIMESTAMP_NTZ,
    //    which unix_micros/unix_millis/window functions reject. Cast to
    //    TIMESTAMP (LTZ) — an exact wall-clock reinterpretation only
    //    because the session zone is pinned to UTC, so require it.
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        require(
          spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP_NTZ; casting to TIMESTAMP is only exact under a UTC session time zone")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
    else df

  /** Register every table as a temp view so `spark.sql` text (the
    * reference's pushdown-query scan surface, S2) runs against them.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Load with a parallelism floor for compute-heavy map stages.
    *
    * Parquet scans parallelize by row group; the test corpus is
    * single-row-group files, which would pin per-row-expensive work
    * (shingling, hashing, quantization) to ONE task. When the scan
    * yields fewer partitions than the cluster's parallelism, spread it
    * with a round-robin repartition — the shuffled payload is the raw
    * input (small relative to the compute), and at production scale
    * multi-row-group files make this a no-op. The scan's partition
    * count is planned once per memo entry, not per call.
    */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val r = resolved(spark, dir, name)
    val df = normalized(spark, name, r.frame())
    val target = spark.sparkContext.defaultParallelism
    if (r.partitions < target) df.repartition(target) else df
  }

  /** A table's data file: its path relative to the table root (the
    * file's own name for a single-file table), its qualified path,
    * length and modification time. */
  private[graft] final case class SourceFile(rel: String, path: String,
                                             len: Long, mtime: Long)

  /** The one listing of a table's DATA files, sorted by relative path:
    * recursive, so a new day dir in a partitioned layout is just more
    * files. A path segment Spark's file index never reads as data is
    * skipped ([[hidden]]): commit records and staging carry no rows,
    * and rewriting a `_SUCCESS` must not look like drift. None when the
    * table is absent. */
  private[graft] def sourceFiles(spark: SparkSession, dir: String,
                                 table: String): Option[Seq[SourceFile]] =
    filesAt(spark, new Path(dir, s"$table.parquet"))

  /** [[sourceFiles]] of the parquet file or dir at `p`: the one
    * data-file walk every listing of a table's files goes through. */
  private[graft] def filesAt(spark: SparkSession, p: Path): Option[Seq[SourceFile]] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val root = fs.makeQualified(p)
      val st = fs.getFileStatus(root)
      if (!st.isDirectory)
        Some(Seq(SourceFile(root.getName, root.toString, st.getLen,
          st.getModificationTime)))
      else {
        // plain listStatus, not listFiles: a located status copies the
        // file's owner and permissions, which the local file system
        // reads by forking a process per file (~3 ms each — a 32-bucket
        // tier version took ~170 ms to list)
        val buf = Seq.newBuilder[SourceFile]
        def walk(d: Path, rel: String): Unit =
          fs.listStatus(d).foreach { f =>
            val name = f.getPath.getName
            if (!hidden(name)) {
              val r = if (rel.isEmpty) name else s"$rel/$name"
              if (f.isDirectory) walk(f.getPath, r)
              else buf += SourceFile(r, f.getPath.toString, f.getLen, f.getModificationTime)
            }
          }
        walk(root, "")
        Some(buf.result().sortBy(_.rel))
      }
    }
  }

  /** Spark's rule for a path segment its file index never reads as data
    * (`HadoopFSUtils.shouldFilterOutPathName`,
    * `PartitioningAwareFileIndex.isDataPath`): `.`-prefixed names,
    * `_`-prefixed names without a `=` (a `_p=1/` partition dir IS
    * data), and in-flight `*._COPYING_` copies. */
  private[graft] def hidden(segment: String): Boolean =
    (segment.startsWith("_") && !segment.contains("=")) ||
      segment.startsWith(".") || segment.endsWith("._COPYING_")

  /** One table per session and directory, plus the served version of
    * each tier, is a few dozen entries; the cap only bounds a
    * long-lived session that reads many directories. */
  private val MemoCap = 64

  /** Besides the files, what a read's relation and its scan's split
    * count depend on: the session's explicitly set parquet, file-source
    * and split confs (`spark.sql.files.maxPartitionBytes`,
    * `…openCostInBytes`, …), and the default parallelism. */
  private def readConf(spark: SparkSession): (Map[String, String], Int) =
    (spark.conf.getAll.filter { case (k, _) => ReadConfPrefixes.exists(k.startsWith) },
      spark.sparkContext.defaultParallelism)

  private val ReadConfPrefixes = Seq(
    "spark.sql.files.", "spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.sources.", "spark.sql.caseSensitive",
    "spark.sql.leafNodeDefaultParallelism")

  /** A memo entry: the relation read under `files` and `conf`. */
  private final class Resolved(spark: SparkSession,
                               val files: Option[Seq[SourceFile]],
                               val conf: (Map[String, String], Int),
                               relation: LogicalRelation) {
    def frame(): DataFrame = GraftPlanBridge.ofRows(spark, relation.newInstance())

    /** The scan's partition count under `conf`, planned on first use. */
    lazy val partitions: Int = frame().rdd.getNumPartitions
  }

  private val memo = new LruMap[(SparkSession, String), Resolved](MemoCap)

  /** The parquet file or dir at `path` (a committed tier version),
    * resolved through the memo like a table, without [[load]]'s
    * per-table normalization. */
  private[graft] def loadAt(spark: SparkSession, path: String): DataFrame =
    resolvedAt(spark, new Path(path))(spark.read.parquet(path)).frame()

  private def resolved(spark: SparkSession, dir: String, name: String): Resolved =
    resolvedAt(spark, new Path(dir, s"$name.parquet"))(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** The memo entry for the parquet file or dir at `p`; on a miss,
    * `read` (a plain read of `p`) resolves it. */
  private def resolvedAt(spark: SparkSession, p: Path)(read: => DataFrame): Resolved = {
    val key = spark -> p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    // listed BEFORE the read: a file landing in between leaves the
    // stored listing behind the relation, so the next load re-reads
    val files = filesAt(spark, p)
    val conf = readConf(spark)
    memo.get(key).filter(e => e.files == files && e.conf == conf).getOrElse {
      // an absent path throws here, as a plain read does
      read.queryExecution.analyzed match {
        case r: LogicalRelation =>
          val e = new Resolved(spark, files, conf, r)
          memo.put(key, e)
          e
        case other => throw new IllegalStateException(
          s"$p resolved to ${other.nodeName}, not a file relation")
      }
    }
  }
}
