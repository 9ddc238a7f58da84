package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.io.DerivedStore.RefreshRecord

/** Bucketed partial rewrite for label tiers
  * ([[DerivedStore.Refresh.Bucketed]], r12 verdict #1): label
  * merges REWRITE rows, so the LSM append can't represent them — the
  * bucketed layout confines a merge night's writes to the hash-buckets
  * its upserts touch, byte-copying everything else. Pins: the layout,
  * merge == inline rebuild, untouched-bucket files byte-identical
  * across a merge night, and a relabel (upsert of an EXISTING doc's
  * row) landing in-place. */
class BucketedTierSpec extends SparkSpec {

  private def writeTable(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def appendParts(from: String, into: String): Unit =
    Files.list(Paths.get(from)).forEach { f =>
      val n = f.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith("."))
        Files.move(f, Paths.get(into).resolve(n)): Unit
    }

  private def versionDir(dir: String): String = {
    val store = DerivedStore.storePath(dir, "lsh_components")
    s"$store/v=${AtomicPublish.currentVersion(spark, store).get}"
  }

  private def fileBytes(path: String): Map[String, Seq[Byte]] =
    new java.io.File(path).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)
      .toMap

  private def clusters(dir: String): Set[(Long, Long)] =
    graft.dedup.ClusterStore.lshComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def inlineClusters(dir: String): Set[(Long, Long)] =
    graft.dedup.ClusterStore.lshComponentsInline(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("merge rewrites only delta-touched buckets; the rest move as bytes; rows == rebuild") {
    val dir = tmpDir("bucketed-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("bucketed-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")

      var snap = new TierSnapshot(spark)
      val c1 = clusters(dir)
      assert(snap.recordOf(dir, "lsh_components").contains(RefreshRecord("full", "bucketed")))
      assert(c1 == inlineClusters(dir))
      val v1 = versionDir(dir)
      val v1Bytes = fileBytes(v1)
      assert(v1Bytes.nonEmpty && v1Bytes.keys.forall(_.matches("b\\d+-part-.*")),
        s"full build lays out bucket-named files: ${v1Bytes.keys.toSeq.sorted.take(3)}")

      // day 2: a SMALL delta — two docs duplicating existing cluster
      // members, one with a doc_id BELOW the cluster's min so the whole
      // family relabels (an in-place upsert of existing rows), one
      // above (plain insert)
      val member = c1.minBy(_._1)._1
      val src = docs.filter(col("doc_id") === member)
      val delta = src.withColumn("doc_id", lit(-7L))
        .unionByName(src.withColumn("doc_id", col("doc_id") + 9000001L))
      val stage = tmpDir("bucketed-delta")
      delta.coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")

      snap = new TierSnapshot(spark)
      val c2 = clusters(dir)
      assert(snap.recordOf(dir, "lsh_components").contains(RefreshRecord("merge", "bucketed-patch")),
        s"a small append must take the bucketed merge: ${snap.published}")
      spark.catalog.clearCache()
      assert(c2 == inlineClusters(dir),
        "bucketed merge must equal the full rebuild over the grown corpus")
      // the relabel really happened in place: the old family now
      // carries the new min label
      assert(c2.exists { case (d, comp) => d == member && comp == -7L },
        s"the family must relabel to the new min: ${c2.filter(_._1 == member)}")

      val v2 = versionDir(dir)
      assert(v2 != v1, "the merge publishes a NEW version")
      val v2Bytes = fileBytes(v2)
      val carried = v1Bytes.keySet.intersect(v2Bytes.keySet)
      assert(carried.nonEmpty,
        "a two-doc night must leave most buckets untouched")
      carried.foreach { n =>
        assert(v1Bytes(n) == v2Bytes(n),
          s"untouched bucket file $n must be byte-identical across the merge")
      }
      assert(carried != v2Bytes.keySet,
        "the touched buckets must actually have been rewritten")
      // and the sidecars describe the NEW version: manifest covers every
      // file; _stats rows are exact
      val m = ZoneMap.manifestOf(spark, v2)
      assert(m.exists(_.entries.map(_._1).toSet == v2Bytes.keySet),
        s"manifest must cover copied + rewritten files")
      assert(DerivedStore.rowStatsOfVersion(spark, v2).map(_.rows).exists(_ == c2.size),
        s"_stats must be exact: ${DerivedStore.rowStatsOfVersion(spark, v2).map(_.rows)}")

      // the recomputed _stats and the merged _keybloom still gate
      // re-ingestion: a doc_id that entered THROUGH the bucketed merge
      // (so its key lives only in the merged sidecars) must route a
      // re-append to the full rebuild, not a mislabeling merge
      val reingest = src.withColumn("doc_id", lit(-7L))
      val stage2 = tmpDir("bucketed-reingest")
      reingest.coalesce(1).write.parquet(s"$stage2/d")
      appendParts(s"$stage2/d", s"$dir/documents.parquet")
      snap = new TierSnapshot(spark)
      val c3 = clusters(dir)
      assert(snap.recordOf(dir, "lsh_components").contains(RefreshRecord("full", "bucketed")),
        s"a re-ingested merged-in key must rebuild: ${snap.published}")
      spark.catalog.clearCache()
      assert(c3 == inlineClusters(dir))
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("takedown ON a bucketed tier: _buckets dropped, next night full-rebuilds coherently") {
    val dir = tmpDir("buckettd-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("buckettd-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")
      val c1 = clusters(dir)
      val v1 = versionDir(dir)

      // the direct takedown (r13 verdict #6): TargetedDelete mutates
      // the SERVED version in place — its rewrites land non-bucket
      // names, so every `_buckets`-dependent structure must go with it
      val gone = c1.head._1
      val td = TargetedDelete.deleteIds(spark, v1, "doc_id", Seq(gone))
      assert(td.rowsDeleted == 1, s"tier takedown: $td")
      assert(!new java.io.File(v1, DerivedStore.BucketsFile).exists(),
        "_buckets must not survive an in-place rewrite it makes untrue")
      assert(!new java.io.File(v1, DerivedStore.RowStatsFile).exists(),
        "_stats overcounts the deleted rows and must be dropped")
      spark.catalog.clearCache()
      assert(!clusters(dir).exists(_._1 == gone),
        "the served tier must forget the taken-down doc immediately")

      // next append night: with the layout sidecar gone the merge
      // precondition fails and the night pays ONE full rebuild — never
      // a patch that byte-copies deleted-rewrite files around the
      // upsert anti-join (duplicate keys with conflicting labels)
      val member = c1.maxBy(_._1)._1
      val delta = docs.filter(col("doc_id") === member)
        .withColumn("doc_id", col("doc_id") + 9000001L)
      val stage = tmpDir("buckettd-delta")
      delta.coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      val snap = new TierSnapshot(spark)
      val c2 = clusters(dir)
      assert(snap.recordOf(dir, "lsh_components").contains(RefreshRecord("full", "bucketed")),
        s"post-takedown night must route to full: ${snap.published}")
      spark.catalog.clearCache()
      assert(c2 == inlineClusters(dir),
        "post-takedown serve must equal the inline rebuild")
      val served = graft.dedup.ClusterStore.lshComponents(spark, dir)
      assert(served.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
        "no duplicate keys may survive the takedown-then-refresh cycle")
      // and the rebuild restored a truthful bucketed layout
      val v2 = versionDir(dir)
      assert(v2 != v1 && new java.io.File(v2, DerivedStore.BucketsFile).exists())
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("a foreign-named data file defeats the byte-copy precondition even with _buckets intact") {
    val dir = tmpDir("bucketrogue-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("bucketrogue-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 2 === 0), dir, "documents")
      val c1 = clusters(dir)
      val v1 = versionDir(dir)

      // a writer that is NOT TargetedDelete lands a row-free but
      // foreign-NAMED file while _buckets survives — the r13-advice
      // scenario where name-trusting membership would go wrong
      val stage0 = tmpDir("bucketrogue-empty")
      spark.read.parquet(v1).limit(0).coalesce(1)
        .write.parquet(s"$stage0/e")
      val part = new java.io.File(s"$stage0/e").listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.move(part.toPath, Paths.get(v1).resolve("rogue-part-0.parquet"))
      assert(new java.io.File(v1, DerivedStore.BucketsFile).exists())

      val member = c1.maxBy(_._1)._1
      val delta = docs.filter(col("doc_id") === member)
        .withColumn("doc_id", col("doc_id") + 9000001L)
      val stage = tmpDir("bucketrogue-delta")
      delta.coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      val snap = new TierSnapshot(spark)
      val c2 = clusters(dir)
      assert(snap.recordOf(dir, "lsh_components").contains(RefreshRecord("full", "bucketed")),
        s"a file that does not declare its bucket must force the full " +
          s"rebuild: ${snap.published}")
      spark.catalog.clearCache()
      assert(c2 == inlineClusters(dir))
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }
}
