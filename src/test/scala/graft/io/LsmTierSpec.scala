package graft.io

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.io.DerivedStore.RefreshRecord

/** LSM publication for pure-append frame tiers
  * ([[DerivedStore.Refresh.Lsm]]): an append night byte-copies
  * the served version and writes only the delta as sorted runs — O(Δ)
  * IO where the plain merge paid a full-tier rewrite — while rows stay
  * exactly rebuild-equal, the sidecars stay truthful at delta cost,
  * the re-ingestion guard still fires THROUGH the merged sidecars, and
  * the file budget eventually routes one publish through the major
  * rewrite that restores the tight layout. */
class LsmTierSpec extends SparkSpec {

  private def writeTable(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def appendParts(from: String, into: String): Unit =
    Files.list(Paths.get(from)).forEach { f: JPath =>
      val n = f.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith("."))
        Files.move(f, Paths.get(into).resolve(n)): Unit
    }

  private def appendDocs(df: DataFrame, dir: String): Unit = {
    val stage = tmpDir("lsm-delta")
    df.coalesce(1).write.parquet(s"$stage/d")
    appendParts(s"$stage/d", s"$dir/documents.parquet")
  }

  private def dataFileNames(path: String): Set[String] =
    new java.io.File(path).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getName).toSet

  private def versionDir(dir: String, tier: String): String = {
    val store = DerivedStore.storePath(dir, tier)
    s"$store/v=${AtomicPublish.currentVersion(spark, store).get}"
  }

  // MULTISET comparison: Set equality would hide duplicated rows —
  // the exact failure the re-ingestion guard and the rewrite's union
  // discipline exist to prevent (r12 review)
  private def rowSet(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("LSM append: rows == rebuild, base files byte-copied, sidecars truthful, guard fires through merged sidecars, budget triggers the rewrite") {
    val dir = tmpDir("lsm-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("lsm-store")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 5 === 0), dir, "documents")

      // night 1: full build
      var snap = new TierSnapshot(spark)
      graft.text.TokenStore.served(spark, dir).count()
      assert(snap.modeOf(dir, "tokens").contains("full"))
      val v1 = versionDir(dir, "tokens")
      val v1Files = dataFileNames(v1)

      // night 2: an append-only delta takes the LSM append
      appendDocs(docs.filter(col("doc_id") % 5 === 1), dir)
      snap = new TierSnapshot(spark)
      val served2 = graft.text.TokenStore.served(spark, dir)
      assert(snap.recordOf(dir, "tokens").contains(RefreshRecord("merge", "lsm-append")),
        s"append-only drift under budget takes the minor append: ${snap.published}")
      val v2 = versionDir(dir, "tokens")
      val v2Files = dataFileNames(v2)
      assert(v1Files.subsetOf(v2Files) && v2Files.size > v1Files.size,
        s"the base moves as a byte-copy (names preserved) plus delta runs: $v1Files vs $v2Files")

      // rows are exactly what a rebuild over the grown corpus produces
      spark.catalog.clearCache()
      assert(rowSet(served2) == rowSet(graft.text.TokenStore.tokens(spark, dir)),
        "LSM merge == rebuild")

      // sidecars stayed truthful at delta cost:
      // the zone map covers every file of the new version
      val m = ZoneMap.manifestOf(spark, v2)
      assert(m.exists(_.entries.map(_._1).toSet == v2Files),
        s"manifest must cover the appended runs: ${m.map(_.entries.map(_._1).toSet)} vs $v2Files")
      // the key's _stats line records the bloom the probe trusts (its
      // range is pinned exact below, with the rest of the profile)
      val trueRange = served2.agg(min("doc_id"), max("doc_id")).head()
      assert(DerivedStore.rowStatsOfVersion(spark, v2).flatMap(_.bloom)
          .exists(_._1 == "doc_id"),
        s"the merged _stats must record the bloom capacity on the key's line: " +
          s"${DerivedStore.rowStatsOfVersion(spark, v2)}")
      assert(new java.io.File(s"$v2/_keybloom").isFile,
        "the bloom merges (or rebuilds) across the append, never silently drops")
      // the row-stats sidecar added at delta cost is EXACT (it feeds
      // the optimizer through TierStatsCatalog, so a lie mis-sizes
      // joins)
      assert(DerivedStore.rowStatsOfVersion(spark, v2).map(_.rows)
          .exists(_ == served2.count()),
        s"merged _stats rows must equal the served rows: " +
          s"${DerivedStore.rowStatsOfVersion(spark, v2).map(_.rows)}")
      // the merged column profile stays HONEST (r14 review): the
      // summary key (doc_id — disjoint across deltas by contract) sums
      // its NDVs, so it tracks the true count; the SORT key (term —
      // vocabularies overlap heavily across nights) must NOT sum, or
      // the overstatement compounds every append (the under-estimate-
      // and-broadcast direction). Bounds widen exactly.
      val prof = DerivedStore.rowStatsOfVersion(spark, v2)
        .getOrElse(fail("merged _stats must parse")).cols
      val trueTerms = served2.select("term").distinct().count()
      val trueDocs = served2.select("doc_id").distinct().count()
      assert(prof("term").ndv.exists(_ <= (trueTerms * 115) / 100),
        s"term NDV must stay a bound, not a compounding sum: " +
          s"${prof("term").ndv} vs true $trueTerms")
      assert(prof("doc_id").ndv.exists(n =>
        n >= (trueDocs * 88) / 100 && n <= (trueDocs * 112) / 100),
        s"summary-key NDV sums disjoint deltas: ${prof("doc_id").ndv} " +
          s"vs true $trueDocs")
      assert(prof("doc_id").min.map(BigDecimal(_)).contains(
          BigDecimal(trueRange.getLong(0))) &&
        prof("doc_id").max.map(BigDecimal(_)).contains(
          BigDecimal(trueRange.getLong(1))),
        s"merged value bounds are exact: ${prof("doc_id")}")
      // and a term lookup through the manifest still answers exactly —
      // including terms that live ONLY in the appended runs
      val newDocId = docs.filter(col("doc_id") % 5 === 1)
        .select("doc_id").head().getLong(0)
      val newTerm = served2.filter(col("doc_id") === newDocId)
        .select("term").head().getString(0)
      val viaManifest = graft.text.TokenStore.termScan(spark, dir, Seq(newTerm))
      val viaFull = served2.filter(col("term") === newTerm)
      assert(rowSet(viaManifest) == rowSet(viaFull),
        "manifest-pruned term lookup sees the appended runs")

      // night 3: a RE-INGESTED doc from night 2's delta — its keys
      // live only in the MERGED sidecars, so this is the test that the
      // merged bloom/summary still answer overlap truthfully; a silent
      // false-negative here would duplicate the doc's rows forever
      appendDocs(docs.filter(col("doc_id") === newDocId), dir)
      snap = new TierSnapshot(spark)
      val served3 = graft.text.TokenStore.served(spark, dir)
      assert(snap.modeOf(dir, "tokens").contains("full"),
        s"a re-ingested night-2 key must route to the full rebuild: ${snap.published}")
      spark.catalog.clearCache()
      assert(rowSet(served3) == rowSet(graft.text.TokenStore.tokens(spark, dir)),
        "the rebuild over the dirty table is the ground truth")

      // night 4: the file budget breached → one major rewrite restores
      // the tight layout with identical rows
      appendDocs(docs.filter(col("doc_id") % 5 === 2), dir)
      DerivedStore.lsmBudgetOverride = Some(0L)
      try {
        snap = new TierSnapshot(spark)
        val served4 = graft.text.TokenStore.served(spark, dir)
        assert(snap.recordOf(dir, "tokens").contains(RefreshRecord("merge", "lsm-rewrite")),
          s"budget breach takes the major rewrite: ${snap.published}")
        spark.catalog.clearCache()
        assert(rowSet(served4) == rowSet(graft.text.TokenStore.tokens(spark, dir)),
          "major rewrite == rebuild")
        val v4Files = dataFileNames(versionDir(dir, "tokens"))
        assert(!v1Files.subsetOf(v4Files),
          "the rewrite re-lays the base instead of copying it")
      } finally DerivedStore.lsmBudgetOverride = None
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("overlap probe on a version without the bloom field (takedown-dropped _stats, a _stats line that predates the field): exact answers, and the next LSM append records the bloom again") {
    val dir = tmpDir("lsm-fallback-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("lsm-fallback-store")
    try {
      val nation = Tables.load(spark, sfDir, "nation").select("n_nationkey", "n_name")
      def keys(from: Int, until: Int) =
        nation.filter(col("n_nationkey") >= from && col("n_nationkey") < until)
      def append(from: Int, until: Int): Unit = {
        val stage = tmpDir("lsm-fallback-delta")
        keys(from, until).coalesce(1).write.parquet(s"$stage/d")
        appendParts(s"$stage/d", s"$dir/nation.parquet")
      }
      writeTable(keys(0, 10), dir, "nation")
      val lsm = DerivedStore.Refresh.Lsm(DerivedStore.perKeyDelta("nation", "n_nationkey")(
        (_, _, _, delta) => delta.select("n_nationkey", "n_name")))
      def serve(): DataFrame =
        DerivedStore.served(spark, dir, "fallback", Seq("nation"),
          (s, d) => Tables.load(s, d, "nation").select("n_nationkey", "n_name"), lsm,
          numFiles = 1, sortKey = "n_nationkey", summaryKey = Some("n_nationkey"))
      def bloomField(v: String) =
        DerivedStore.rowStatsOfVersion(spark, v).flatMap(_.bloom)
      def probe(v: String, ks: Seq[Long]): Boolean =
        DerivedStore.deltaKeysOverlap(Tables.loadAt(spark, v),
          spark.createDataFrame(ks.map(Tuple1(_))).toDF("n_nationkey"), "n_nationkey")

      assert(serve().count() == 10)
      val v1 = versionDir(dir, "fallback")
      assert(bloomField(v1).contains("n_nationkey" -> 1024L), s"${bloomField(v1)}")

      // the earlier format: the key's line without its 8th field
      val stats = new org.apache.hadoop.fs.Path(v1, DerivedStore.RowStatsFile)
      val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Sidecar.write(fs, stats, Sidecar.read(fs, stats).get.split("\n")
        .map(_.split("\t", -1).take(7).mkString("\t")).mkString("\n"))
      assert(bloomField(v1).isEmpty && DerivedStore.rowStatsOfVersion(spark, v1).nonEmpty)
      assert(probe(v1, Seq(3L)), "a re-ingested key must be flagged")
      assert(!probe(v1, Seq(1000L, 1001L)), "a disjoint delta must be cleared")

      append(10, 15)
      var snap = new TierSnapshot(spark)
      assert(serve().count() == 15)
      assert(snap.recordOf(dir, "fallback").contains(RefreshRecord("merge", "lsm-append")),
        s"${snap.published}")
      val v2 = versionDir(dir, "fallback")
      assert(bloomField(v2).exists(_._1 == "n_nationkey"),
        s"the append must publish _stats with the bloom field again: ${bloomField(v2)}")
      assert(probe(v2, Seq(12L)), "a key the append added must be flagged")

      // a takedown drops _stats: no facts at all, the exact probe answers
      assert(TargetedDelete.deleteIds(spark, v2, "n_nationkey", Seq(3L)).rowsDeleted == 1)
      assert(DerivedStore.rowStatsOfVersion(spark, v2).isEmpty)
      spark.catalog.clearCache()
      assert(probe(v2, Seq(12L)), "a re-ingested key must be flagged")
      assert(!probe(v2, Seq(1000L, 1001L)), "a disjoint delta must be cleared")
      assert(!probe(v2, Seq(3L)), "a taken-down key is no longer in the tier")

      append(15, 20)
      snap = new TierSnapshot(spark)
      assert(serve().count() == 19)
      assert(snap.recordOf(dir, "fallback").contains(RefreshRecord("merge", "lsm-append")),
        s"${snap.published}")
      val v3 = versionDir(dir, "fallback")
      assert(bloomField(v3).exists(_._1 == "n_nationkey"),
        s"the append after a takedown must publish the bloom field again: ${bloomField(v3)}")
      assert(DerivedStore.rowStatsOfVersion(spark, v3).map(_.rows).contains(19L))
      assert(probe(v3, Seq(17L)) && !probe(v3, Seq(1000L)))
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("copyTree's distributed path moves the same bytes as the driver loop") {
    val src = tmpDir("copytree-src")
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    docs.repartition(4).write.parquet(s"$src/base")
    docs.limit(10).coalesce(1).write.parquet(s"$src/base/nested=1")
    def snapshot(root: String): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      def walk(f: java.io.File, rel: String): Unit =
        f.listFiles().foreach { c =>
          val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
          if (c.isDirectory) walk(c, r)
          else if (!c.getName.startsWith("_") && !c.getName.startsWith("."))
            b += r -> c.length()
        }
      walk(new java.io.File(root), "")
      b.result()
    }
    val expected = snapshot(s"$src/base")
    assert(expected.size > 1)
    val keep = (n: String) => !n.startsWith("_") && !n.startsWith(".")
    // driver loop (above threshold-by-default for this tiny tree)
    DerivedStore.copyTree(spark, new org.apache.hadoop.fs.Path(s"$src/base"),
      new org.apache.hadoop.fs.Path(s"$src/drv"), keep)
    assert(snapshot(s"$src/drv") == expected)
    // distributed path, forced: same files, same sizes, executors did
    // the byte moves
    val prev = DerivedStore.distributedCopyMinFiles
    DerivedStore.distributedCopyMinFiles = 0
    try DerivedStore.copyTree(spark, new org.apache.hadoop.fs.Path(s"$src/base"),
      new org.apache.hadoop.fs.Path(s"$src/dist"), keep)
    finally DerivedStore.distributedCopyMinFiles = prev
    assert(snapshot(s"$src/dist") == expected)
    // and the rows survive both routes bit-exactly
    assert(rowSet(spark.read.parquet(s"$src/dist")) ==
      rowSet(spark.read.parquet(s"$src/base")))
  }

  test("shingle and band tiers ride the same LSM path and stay rebuild-equal") {
    val dir = tmpDir("lsm-src2")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("lsm-store2")
    try {
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 5 === 0), dir, "documents")
      graft.dedup.BandIndexStore.corpusIndex(spark, dir).count() // builds shingles too

      appendDocs(docs.filter(col("doc_id") % 5 =!= 0), dir)
      val snap = new TierSnapshot(spark)
      val bands = graft.dedup.BandIndexStore.corpusIndex(spark, dir)
      assert(snap.recordOf(dir, "band_index").contains(RefreshRecord("merge", "lsm-append")),
        s"${snap.published}")
      spark.catalog.clearCache()
      graft.core.Caching.releaseAll()
      // band tier == the from-scratch pipeline over the grown corpus
      val rebuilt = graft.dedup.BandIndexStore.bandKeys(
        Tables.load(spark, dir, "documents"))
      assert(rowSet(bands) == rowSet(rebuilt), "band LSM merge == rebuild")
      // the shingle tier merged too (band's delta never forced it full)
      val shingles = graft.dedup.ShingleStore.served(spark, dir)
      assert(rowSet(shingles.select("doc_id")) ==
        rowSet(Tables.load(spark, dir, "documents").select("doc_id")),
        "shingle tier carries exactly the grown corpus")
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }
}
