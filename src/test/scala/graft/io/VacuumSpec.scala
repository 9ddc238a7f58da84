package graft.io

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.core.Tables

class VacuumSpec extends SparkSpec {

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("expired versions age out, keep window stays readable, torn publishes swept after grace") {
    val table = tmpDir("vacuum") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    val versions = (1 to 5).map(_ => AtomicPublish.publishVersionedOcc(nation, table))
    assert(versions == Seq(1L, 2L, 3L, 4L, 5L))
    // a torn publish: version dir without _SUCCESS
    val fs = fsOf(table)
    fs.mkdirs(new Path(s"$table/v=99"))

    // dry run deletes nothing
    val dry = Vacuum.sweep(spark, table, keepVersions = 2, graceMs = 0,
      dryRun = true)
    assert(dry.deletedCommitted == Seq(3L, 2L, 1L))
    assert(dry.deletedUncommitted == Seq("v=99"))
    assert(fs.exists(new Path(s"$table/v=1")) && fs.exists(new Path(s"$table/v=99")))

    val rep = Vacuum.sweep(spark, table, keepVersions = 2, graceMs = 0)
    assert(rep.deletedCommitted.toSet == Set(1L, 2L, 3L))
    assert(rep.deletedUncommitted == Seq("v=99"))
    assert(rep.keptVersions.toSet == Set(4L, 5L))
    // current + the kept snapshot still resolve; expired ones are gone
    assert(AtomicPublish.currentVersion(spark, table).contains(5L))
    assert(AtomicPublish.readVersion(spark, table, 4L).count() == nation.count())
    intercept[IllegalArgumentException] {
      AtomicPublish.readVersion(spark, table, 2L)
    }
  }

  test("grace period shields an in-flight (uncommitted) publish") {
    val table = tmpDir("vacuum-grace") + "/nation"
    AtomicPublish.publishVersionedOcc(Tables.load(spark, sfDir, "nation"), table)
    val fs = fsOf(table)
    fs.mkdirs(new Path(s"$table/v=2")) // writer still running, no _SUCCESS yet
    val rep = Vacuum.sweep(spark, table, keepVersions = 1,
      graceMs = 60L * 60 * 1000)
    assert(rep.deletedUncommitted.isEmpty,
      "fresh uncommitted dirs are inside the grace window")
    assert(fs.exists(new Path(s"$table/v=2")))
    // once stale (simulated by nowMs far in the future) it is swept
    val later = Vacuum.sweep(spark, table, keepVersions = 1,
      graceMs = 60L * 60 * 1000,
      nowMs = System.currentTimeMillis() + 2L * 60 * 60 * 1000)
    assert(later.deletedUncommitted == Seq("v=2"))
    assert(!fs.exists(new Path(s"$table/v=2")))
  }

  test("vacuum never touches the current version") {
    val table = tmpDir("vacuum-current") + "/nation"
    val nation = Tables.load(spark, sfDir, "nation")
    AtomicPublish.publishVersionedOcc(nation, table)
    intercept[IllegalArgumentException] {
      Vacuum.sweep(spark, table, keepVersions = 0)
    }
    val rep = Vacuum.sweep(spark, table, keepVersions = 1)
    assert(rep.deletedCount == 0 && rep.keptVersions == Seq(1L))
    assert(AtomicPublish.readCurrent(spark, table).count() == nation.count())
  }
}
