package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class AtomicPublishSpec extends SparkSpec {

  test("publish replaces the table atomically and survives re-publish") {
    val table = tmpDir("atomic") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    val n1 = AtomicPublish.publish(nation, table)
    assert(n1 == nation.count())
    assert(spark.read.parquet(table).count() == n1)
    // second publish with different content fully replaces the first
    val half = nation.filter(col("n_nationkey") < 10)
    val n2 = AtomicPublish.publish(half, table)
    assert(spark.read.parquet(table).count() == n2 && n2 < n1)
  }

  test("failed count gate leaves the current table untouched") {
    val table = tmpDir("atomic-gate") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    AtomicPublish.publish(nation, table)
    intercept[IllegalStateException] {
      AtomicPublish.publish(nation.limit(1), table, expectedRows = Some(999L))
    }
    assert(spark.read.parquet(table).count() == nation.count(),
      "gate failure must not clobber the published table")
  }

  test("crash between the swap renames: next publish restores, never destroys, the old copy") {
    val table = tmpDir("atomic-crash") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    AtomicPublish.publish(nation, table)
    // simulate dying after rename(target -> old): table gone, only
    // copy in .old — the window where an unrecovered publish would
    // fs.delete the sole surviving data first
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(table + ".old")))
    // a count-gate FAILURE after recovery must leave the restored table
    intercept[IllegalStateException] {
      AtomicPublish.publish(nation.limit(1), table, expectedRows = Some(999L))
    }
    assert(spark.read.parquet(table).count() == nation.count(),
      "recovery must roll the .old copy back in before the gate runs")
    // and a successful publish proceeds normally from the recovered state
    AtomicPublish.publish(nation.limit(4), table)
    assert(spark.read.parquet(table).count() == 4)
  }

  test("versioned publish: reader follows the highest committed version") {
    val table = tmpDir("atomic-ver") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    assert(AtomicPublish.currentVersion(spark, table).isEmpty)
    val v1 = AtomicPublish.publishVersionedOcc(nation, table)
    val v2 = AtomicPublish.publishVersionedOcc(nation.limit(3), table)
    assert(v1 == 1 && v2 == 2)
    assert(AtomicPublish.readCurrent(spark, table).count() == 3)
    // old version still present as a snapshot
    assert(spark.read.parquet(s"$table/v=1").count() == nation.count())
  }

  test("version diff: insert/delete/update per key between snapshots") {
    import org.apache.spark.sql.functions._
    val table = tmpDir("atomic-diff") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    AtomicPublish.publishVersionedOcc(nation.filter(col("n_nationkey") < 20), table)
    // v2: drop key 0 (delete), keep 1..19 but rewrite key 5's name
    // (update), add keys 20.. (inserts)
    val v2 = nation.filter(col("n_nationkey") >= 1)
      .withColumn("n_name",
        when(col("n_nationkey") === 5, lit("rewritten")).otherwise(col("n_name")))
    AtomicPublish.publishVersionedOcc(v2, table)

    val diff = AtomicPublish.diffVersions(spark, table, Seq("n_nationkey"), 1L, 2L)
      .collect().map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    val inserts = nation.filter(col("n_nationkey") >= 20)
      .select("n_nationkey").collect().map(_.getInt(0).toLong).toSet
    assert(diff(0L) == "delete")
    assert(diff(5L) == "update")
    assert(inserts.nonEmpty && inserts.forall(k => diff(k) == "insert"))
    // unchanged keys do not appear
    assert(diff.size == inserts.size + 2, s"unexpected rows: $diff")
    // uncommitted/absent versions are an error, not an empty frame
    intercept[IllegalArgumentException] {
      AtomicPublish.readVersion(spark, table, 9L)
    }
  }

  test("snapshot publish: readers never see a torn cross-table state") {
    val base = tmpDir("atomic-snap")
    val nation = Tables.load(spark, sfDir, "nation")
    val region = Tables.load(spark, sfDir, "region")
    val v1 = AtomicPublish.publishSnapshot(
      Map("nation" -> nation, "region" -> region), base)
    assert(v1 == 1)
    val v2 = AtomicPublish.publishSnapshot(
      Map("nation" -> nation.limit(5), "region" -> region.limit(2)), base)
    assert(v2 == 2)
    assert(AtomicPublish.readSnapshot(spark, base, "nation").count() == 5)
    assert(AtomicPublish.readSnapshot(spark, base, "region").count() == 2)

    // simulated crash: one member table written at v3, manifest never
    // committed -> BOTH reads must stay at the v2 pair (the per-table
    // pointer would already serve the torn nation v3 here)
    nation.limit(1).write.mode("overwrite").parquet(s"$base/nation/v=3")
    assert(AtomicPublish.currentSnapshot(spark, base).contains(2L))
    assert(AtomicPublish.readSnapshot(spark, base, "nation").count() == 5)
    assert(AtomicPublish.readSnapshot(spark, base, "region").count() == 2)

    // the next successful publish overwrites the orphan and commits
    val v3 = AtomicPublish.publishSnapshot(
      Map("nation" -> nation.limit(7), "region" -> region), base)
    assert(v3 == 3)
    assert(AtomicPublish.readSnapshot(spark, base, "nation").count() == 7)

    // orphan-dir collision: a crashed publish left region-less v4 dirs
    // for ANOTHER table, then a nation-only publish commits v4. region
    // must resolve through manifest membership to its own last
    // committed version (v3), not to any v4 directory that exists
    region.limit(1).write.mode("overwrite").parquet(s"$base/region/v=4")
    val v4 = AtomicPublish.publishSnapshot(Map("nation" -> nation.limit(9)), base)
    assert(v4 == 4)
    assert(AtomicPublish.readSnapshot(spark, base, "nation").count() == 9)
    assert(AtomicPublish.readSnapshot(spark, base, "region").count() == region.count(),
      "region must come from its last COMMITTED snapshot, not the orphaned v=4 dir")

    // crash mid-manifest-write: the writer dies between create and
    // close, leaving a temp file. The temp must be invisible to
    // version resolution (a torn IN-PLACE manifest at v=5 would be
    // served as committed with a truncated member list — the ADVICE
    // r4 finding), and the next publish of v=5 must commit cleanly
    // over the orphaned temp.
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = fs.create(
      new org.apache.hadoop.fs.Path(base, "_manifest/.v=5.tmp"), true)
    torn.write("nat".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    torn.close()
    assert(AtomicPublish.currentSnapshot(spark, base).contains(4L),
      "an uncommitted manifest temp must not advance the snapshot version")
    assert(AtomicPublish.readSnapshot(spark, base, "nation").count() == 9)
    val v5 = AtomicPublish.publishSnapshot(
      Map("nation" -> nation.limit(2), "region" -> region.limit(3)), base)
    assert(v5 == 5)
    assert(AtomicPublish.readSnapshot(spark, base, "nation").count() == 2)
    assert(AtomicPublish.readSnapshot(spark, base, "region").count() == 3)
  }
}
