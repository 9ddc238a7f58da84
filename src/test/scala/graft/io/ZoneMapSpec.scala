package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** File-grain zone maps: the publish-time `_filemap` manifest prunes
  * keyed reads to the files whose [min,max] can match — point lookups
  * open ≤2 files without touching parquet footers — and
  * TargetedDelete discovers its affected files from the manifest
  * instead of a pushdown scan, maintaining it delta-cost across the
  * swap. */
class ZoneMapSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  private def filesOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.toSet

  test("tokens tier: a point term lookup opens ≤2 files by manifest alone, same rows") {
    val dir = tmpDir("zonemap-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("zonemap-store")
    try {
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val tier = graft.text.TokenStore.served(spark, dir)
      val allFiles = filesOf(tier)
      assert(allFiles.size >= 8, s"the tier should be multi-file: ${allFiles.size}")

      // a mid-frequency term: present, but not everywhere
      val term = tier.groupBy("term").count()
        .filter(col("count") between (2, 50))
        .orderBy("term").head().getString(0)
      val pruned = graft.text.TokenStore.termScan(spark, dir, Seq(term))
      assert(filesOf(pruned).size <= 2,
        s"point lookup must open ≤2 of ${allFiles.size} files: ${filesOf(pruned).size}")
      val expect = tier.filter(col("term") === term)
      assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty,
        "manifest pruning must not change the result")

      // a term below every file's range: zero candidates, zero footers
      val ghost = graft.text.TokenStore.termScan(spark, dir, Seq("nothing"))
      assert(ghost.isEmpty && ghost.columns.sameElements(tier.columns))
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("string pruning follows Spark's UTF-8 binary order, not Java's UTF-16 order") {
    // Spark min/max orders strings by UTF-8 bytes: fullwidth/replacement
    // chars (U+E000..U+FFFF → 0xEE..0xEF) sort BELOW supplementary-plane
    // chars (→ 0xF0..), while Java's UTF-16 ordering puts them ABOVE the
    // surrogates. A key like U+FFFD lies inside [U+FF01, U+1F600] in
    // UTF-8 but outside it in UTF-16 — the old String ordering wrongly
    // excluded the file and silently dropped the row.
    val table = s"${tmpDir("zonemap-utf8")}/t.parquet"
    val rows = Seq("apple", "banana", "！x", "�x", "😀x")
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }
    val df = spark.createDataFrame(rows).toDF("k", "v")
    SortedLayout.writeRangeSorted(df, table, numFiles = 2, col("k"))
    ZoneMap.write(spark, table, "k")

    val m = ZoneMap.manifestFor(spark, table, "k")
    assert(m.nonEmpty, "manifest must load")
    val hit = ZoneMap.scanForKeys(spark, table, "k", Seq("�x"))
      .filter(col("k") === "�x")
    assert(hit.count() == 1,
      "a key between a fullwidth min and an emoji max must survive pruning")
    // and the non-ASCII prune still PRUNES when it safely can: a key
    // below every range yields zero candidates
    assert(m.get.candidateFilesForKeys(Seq("")).isEmpty)
  }

  test("a second keyed read serves the manifest from the memo, no parquet re-read; any rewrite revalidates") {
    val table = s"${tmpDir("zonemap-memo")}/t.parquet"
    SortedLayout.writeRangeSorted(docs, table, numFiles = 4, col("doc_id"))
    ZoneMap.write(spark, table, "doc_id")
    val first = ZoneMap.manifestFor(spark, table, "doc_id")
    assert(first.nonEmpty)

    // overwrite the manifest's bytes IN PLACE with garbage of the same
    // length and restore the mtime: the listStatus signature is
    // unchanged, so a second read that hit parquet would fail to parse
    // — only the memo can still answer
    val dir = new java.io.File(s"$table/${ZoneMap.ManifestDir}")
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val mtime = part.lastModified()
    val garbage = Array.fill[Byte](part.length().toInt)(0x5a)
    java.nio.file.Files.write(part.toPath, garbage)
    assert(part.setLastModified(mtime))
    val second = ZoneMap.manifestFor(spark, table, "doc_id")
    assert(second.map(_.entries) == first.map(_.entries),
      "an unchanged signature must serve the memoized manifest without re-reading parquet")

    // any visible change (here: mtime) misses the memo and reloads —
    // the garbage now surfaces as an unreadable manifest → scan fallback
    assert(part.setLastModified(mtime + 5000))
    spark.catalog.clearCache()
    assert(ZoneMap.manifestFor(spark, table, "doc_id").isEmpty,
      "a changed signature must revalidate against the real bytes")
  }

  test("TargetedDelete discovers affected files from the manifest and maintains it across the swap") {
    val dir = tmpDir("zonemap-del")
    val table = s"$dir/corpus.parquet"
    SortedLayout.writeRangeSorted(docs, table, numFiles = 8, col("doc_id"))
    ZoneMap.write(spark, table, "doc_id")
    val total = docs.count()

    // adjacent ids cluster into few files under the sorted layout
    val ids = docs.orderBy("doc_id").limit(3)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val r = TargetedDelete.deleteIds(spark, table, "doc_id", ids)
    assert(r.discovery == "manifest", s"discovery must read the zone map: $r")
    assert(r.rowsDeleted == 3 && r.filesTotal == 8 && r.filesRewritten < r.filesTotal,
      s"sorted layout confines the delete: $r")
    spark.catalog.clearCache()
    val after = spark.read.parquet(table)
    assert(after.count() == total - 3 &&
      after.filter(col("doc_id").isin(ids: _*)).isEmpty)

    // the manifest survived the swap and describes the CURRENT files
    val m = ZoneMap.manifestOf(spark, table)
    assert(m.exists(_.key == "doc_id"), "manifest must be rebuilt after the swap")
    val onDisk = new java.io.File(table).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(m.get.entries.map(_._1).toSet == onDisk,
      s"manifest files ${m.get.entries.map(_._1).toSet} vs disk $onDisk")

    // and it still prunes correctly: a second delete through the
    // maintained manifest removes rows that lived in a REWRITTEN file
    val ids2 = after.orderBy("doc_id").limit(2)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val r2 = TargetedDelete.deleteIds(spark, table, "doc_id", ids2)
    assert(r2.discovery == "manifest" && r2.rowsDeleted == 2, s"$r2")
    spark.catalog.clearCache()
    assert(spark.read.parquet(table).count() == total - 5)

    // deleting absent ids is a no-op that never opens a data file's
    // footer (candidates = 0) and leaves the manifest in place
    val r3 = TargetedDelete.deleteIds(spark, table, "doc_id", Seq(-999999L))
    assert(r3.rowsDeleted == 0 && r3.filesRewritten == 0, s"$r3")
    assert(ZoneMap.manifestOf(spark, table).nonEmpty)

    // a manifest-less table takes the pushdown-scan path, same answer
    val bare = s"$dir/bare.parquet"
    SortedLayout.writeRangeSorted(docs, bare, numFiles = 8, col("doc_id"))
    val rb = TargetedDelete.deleteIds(spark, bare, "doc_id", ids)
    assert(rb.discovery == "scan" && rb.rowsDeleted == 3)
  }
}
