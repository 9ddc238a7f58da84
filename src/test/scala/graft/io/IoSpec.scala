package graft.io

import java.io.File

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IoSpec extends SparkSpec {

  private def nation = graft.core.Tables.load(spark, sfDir, "nation")

  test("fullRefresh is idempotent: two runs leave the same table") {
    val out = tmpDir("full-refresh")
    val n1 = IdempotentWriter.fullRefresh(nation, s"$out/t")
    val n2 = IdempotentWriter.fullRefresh(nation, s"$out/t")
    assert(n1 == 25 && n2 == 25)
    assert(spark.read.parquet(s"$out/t").count() == 25)
  }

  test("partitionRefresh replaces only the incoming partitions") {
    val out = tmpDir("part-refresh")
    val d1 = nation.withColumn("dt", lit("20240101"))
    val d2 = nation.limit(5).withColumn("dt", lit("20240102"))
    IdempotentWriter.partitionRefresh(d1, s"$out/t", "dt")
    IdempotentWriter.partitionRefresh(d2, s"$out/t", "dt")
    // re-run day 2 with fewer rows: day 1 must stay intact
    val d2b = nation.limit(3).withColumn("dt", lit("20240102"))
    val written = IdempotentWriter.partitionRefresh(d2b, s"$out/t", "dt")
    assert(written == 3)
    // partition discovery infers dt as int — compare via toString
    val byDt = spark.read.parquet(s"$out/t").groupBy("dt").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(byDt == Map("20240101" -> 25L, "20240102" -> 3L))
  }

  test("partitionRefresh leaves the session conf alone: a later plain overwrite stays static") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val out = tmpDir("part-refresh-conf")
    IdempotentWriter.partitionRefresh(
      nation.limit(2).withColumn("dt", lit("20240101")), s"$out/r", "dt")
    assert(spark.conf.getOption(key) == before)
    // static overwrite replaces the whole table, partitions absent from
    // the incoming frame included
    val t = s"$out/t"
    nation.limit(2).withColumn("dt", lit("20240101"))
      .write.mode("overwrite").partitionBy("dt").parquet(t)
    nation.limit(1).withColumn("dt", lit("20240102"))
      .write.mode("overwrite").partitionBy("dt").parquet(t)
    assert(spark.read.parquet(t).count() == 1)
  }

  test("singleGzipJson writes exactly one gzip part with all rows") {
    val out = tmpDir("export")
    Export.singleGzipJson(nation, s"$out/j")
    val parts = new File(s"$out/j").listFiles().filter(_.getName.endsWith(".json.gz"))
    assert(parts.length == 1)
    assert(spark.read.json(s"$out/j").count() == 25)
  }

  test("backup stamps bkup_dt, gates on drift, retention drops old dates") {
    val out = tmpDir("backup")
    Backup.backup(nation, out, "nation", "20240101")
    Backup.backup(nation, out, "nation", "20240105")
    assert(Backup.backupDates(spark, out, "nation") == Seq("20240101", "20240105"))

    // drift: a source with an extra column must be rejected (O6)
    intercept[IllegalArgumentException] {
      Backup.backup(nation.withColumn("extra", lit(1)), out, "nation", "20240106")
    }

    val dropped = Backup.retentionSweep(spark, out, "nation", cutoffDt = "20240103")
    assert(dropped == Seq("20240101"))
    assert(Backup.backupDates(spark, out, "nation") == Seq("20240105"))
    assert(spark.read.parquet(s"$out/nation").count() == 25)
  }
}
