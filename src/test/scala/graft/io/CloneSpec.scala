package graft.io

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.core.Tables

class CloneSpec extends SparkSpec {

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("shallow clone is zero-copy, snapshot-isolated, and immutable") {
    val root = tmpDir("clone")
    val src = s"$root/nation"
    val dst = s"$root/nation_clone"
    val nation = Tables.load(spark, sfDir, "nation")
    AtomicPublish.publishVersionedOcc(nation, src)

    val pinned = Clone.shallowClone(spark, src, dst)
    assert(pinned == 1L)
    assert(Clone.isShallow(spark, dst))
    // zero-copy: no parquet data landed under the clone root
    val fs = fsOf(dst)
    val cloneFiles = fs.listStatus(new Path(dst)).map(_.getPath.getName).toSet
    assert(cloneFiles == Set("_CLONE"), s"unexpected files: $cloneFiles")
    assert(Clone.readClone(spark, dst).count() == nation.count())

    // snapshot isolation: a later publish to the source is invisible
    AtomicPublish.publishVersionedOcc(nation.limit(3), src)
    assert(AtomicPublish.currentVersion(spark, src).contains(2L))
    assert(Clone.readClone(spark, dst).count() == nation.count())

    // immutable: cutting a second clone at the same destination fails
    intercept[IllegalArgumentException] {
      Clone.shallowClone(spark, src, dst)
    }
  }

  test("materialize breaks the source dependency before a vacuum reaps the pinned version") {
    val root = tmpDir("clone2")
    val src = s"$root/region"
    val dst = s"$root/region_clone"
    val region = Tables.load(spark, sfDir, "region")
    AtomicPublish.publishVersionedOcc(region, src)
    Clone.shallowClone(spark, src, dst)

    // age the pinned version out of retention
    AtomicPublish.publishVersionedOcc(region, src)
    AtomicPublish.publishVersionedOcc(region, src)

    Clone.materialize(spark, dst)
    assert(!Clone.isShallow(spark, dst))
    // idempotent
    Clone.materialize(spark, dst)

    Vacuum.sweep(spark, src, keepVersions = 1, graceMs = 0)
    intercept[IllegalArgumentException] {
      AtomicPublish.readVersion(spark, src, 1L)
    }
    // the materialized clone survives the reap of its source version
    assert(Clone.readClone(spark, dst).count() == region.count())
  }
}
