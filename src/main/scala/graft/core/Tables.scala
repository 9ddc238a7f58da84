package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the TESTDATA star schema (see /root/repo/TESTDATA.md).
  *
  * Mirrors the reference's tiered-table loads (S1 in SURVEY.md §2.1:
  * full-table warehouse scans,
  * `Talent_Opportunity_Platform/Keyword.py:128-153`) as plain parquet
  * scans so Catalyst gets vectorized reads, predicate pushdown and
  * column pruning for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalized(spark, name, spark.read.parquet(s"$dir/$name.parquet"))

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
    * multi-row-group files make this a no-op.
    */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
