package graft.io

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.core.Tables

/** The tier-publication protocol itself (GraphStore/ClusterStore/
  * BandIndexStore all ride it): Hadoop-FS versioned OCC commit, the
  * fingerprint travelling inside the committed version, crash/torn-dir
  * tolerance, and the OccPublishSpec-style race where a competing
  * process publishes between our staleness check and our commit. */
class DerivedStoreSpec extends SparkSpec {

  private var builds = 0
  private val build: (SparkSession, String) => DataFrame =
    (s, dir) => { builds += 1; Tables.load(s, dir, "nation").select("n_nationkey", "n_name") }

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Private copy of nation.parquet under an isolated store root. */
  private def withIsolated[A](body: String => A): A = {
    val dir = tmpDir("derivedstore-src")
    Files.copy(Paths.get(sfDir, "nation.parquet"), Paths.get(dir, "nation.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES): Unit
    val prev = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("derivedstore-root")
    builds = 0
    try body(dir)
    finally prev match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  private def serve(dir: String): DataFrame =
    DerivedStore.served(spark, dir, "nation_tier", Seq("nation"),
      build, DerivedStore.Refresh.Rebuild, numFiles = 2, sortKey = "n_nationkey")

  test("commit is v=n + _SUCCESS with the fingerprint inside the version dir") {
    withIsolated { dir =>
      assert(serve(dir).count() == 25 && builds == 1)
      val store = DerivedStore.storePath(dir, "nation_tier")
      assert(AtomicPublish.currentVersion(spark, store).contains(1L))
      val fs = fsOf(store)
      assert(fs.exists(new Path(s"$store/v=1/_SUCCESS")), "commit record missing")
      assert(fs.exists(new Path(s"$store/v=1/_fingerprint")), "fingerprint not in version")
      assert(serve(dir).count() == 25 && builds == 1, "fresh serve must not rebuild")
    }
  }

  test("a version missing its fingerprint is stale; torn dirs and orphaned staging never serve") {
    withIsolated { dir =>
      serve(dir).count(): Unit
      val store = DerivedStore.storePath(dir, "nation_tier")
      val fs = fsOf(store)
      // a torn publish (no _SUCCESS) at a higher version + a crashed
      // stager's .tx- orphan: both invisible to resolution
      fs.mkdirs(new Path(s"$store/v=9"))
      fs.mkdirs(new Path(s"$store/.tx-dead"))
      assert(serve(dir).count() == 25 && builds == 1,
        "torn/orphan dirs must neither serve nor trigger a rebuild")
      // strip the committed version's fingerprint -> provenance unknown
      // -> the store must rebuild rather than trust the data
      fs.delete(new Path(s"$store/v=1/_fingerprint"), false)
      assert(serve(dir).count() == 25 && builds == 2)
      assert(AtomicPublish.currentVersion(spark, store).contains(2L),
        "rebuild commits at the next COMMITTED version; torn dirs don't advance it")
    }
  }

  test("lost OCC race: competing publish between staleness check and commit, both land") {
    withIsolated { dir =>
      serve(dir).count(): Unit
      val store = DerivedStore.storePath(dir, "nation_tier")
      // a competing process commits v=2 out from under us (same data,
      // different build) — exactly OccPublishSpec's interleaving, here
      // driven through the store's own publish path
      AtomicPublish.publishVersionedOcc(build(spark, dir), store): Unit
      assert(AtomicPublish.currentVersion(spark, store).contains(2L))
      // v=2 carries no fingerprint -> stale -> our rebuild must race
      // past it and commit at v=3; v=2's data is never clobbered
      assert(serve(dir).count() == 25 && builds >= 2)
      assert(AtomicPublish.currentVersion(spark, store).contains(3L))
      assert(AtomicPublish.readVersion(spark, store, 2L).count() == 25)
      val leftovers = fsOf(store).listStatus(new Path(store))
        .map(_.getPath.getName).filter(_.startsWith(".tx-")).filterNot(_ == ".tx-dead")
      assert(leftovers.isEmpty, s"staging not cleaned: ${leftovers.mkString(",")}")
    }
  }

  test("a write landing between fingerprint and build is re-listed, not recorded as digested") {
    withIsolated { dir =>
      // directory-layout source so the concurrent write is an append
      val src = s"$dir/region.parquet"
      Tables.load(spark, sfDir, "region").limit(3)
        .coalesce(1).write.parquet(src)
      def serveRegion(): DataFrame =
        DerivedStore.served(spark, dir, "region_tier", Seq("region"),
          (s, d) => Tables.load(s, d, "region").select("r_regionkey"),
          DerivedStore.Refresh.Rebuild, numFiles = 1, sortKey = "r_regionkey")
      assert(serveRegion().count() == 3)

      // the racing writer: lands two more rows AFTER the fingerprint
      // is taken but BEFORE the build reads — the classic TOCTOU
      // window. Drive it by touching the source (staleness) and
      // arming the hook for exactly one firing.
      val extra = Tables.load(spark, sfDir, "region").limit(5)
      var armed = true
      DerivedStore.onFingerprinted = () => if (armed) {
        armed = false
        extra.coalesce(1).write.mode("overwrite").parquet(s"$dir/stage-r")
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage-r")).forEach { f =>
          val n = f.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith("."))
            java.nio.file.Files.move(f,
              java.nio.file.Paths.get(src, "landed-" + n)): Unit
        }
      }
      try {
        // make the store stale so a publish (and the armed hook) runs
        val aPart = java.nio.file.Files.list(java.nio.file.Paths.get(src)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .find { p =>
            val n = p.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".") // a .crc touch is invisible to the fingerprint
          }.get
        java.nio.file.Files.setLastModifiedTime(aPart,
          java.nio.file.attribute.FileTime.fromMillis(
            java.nio.file.Files.getLastModifiedTime(aPart).toMillis + 5000)): Unit
        // the re-list must catch the landed write: whatever this serve
        // returns, the NEXT serve must be complete (not a stale tier
        // advertised as covering the landed file)
        serveRegion().count(): Unit
        assert(serveRegion().count() == 8,
          "post-race serve must cover the write that landed mid-build")
      } finally DerivedStore.onFingerprinted = () => ()
    }
  }

  test("a source that never quiesces commits under the churn sentinel: served but never fresh, never merge-classified") {
    withIsolated { dir =>
      val src = s"$dir/region.parquet"
      Tables.load(spark, sfDir, "region").limit(2)
        .coalesce(1).write.parquet(src)
      // registered WITH a merge so the sentinel's Rewritten
      // classification is observable: a sentinel that classified as
      // append-only would take this merge and report "merge"
      def serveRegion(): DataFrame =
        DerivedStore.served(spark, dir, "churn_tier", Seq("region"),
          (s, d) => Tables.load(s, d, "region").select("r_regionkey"),
          DerivedStore.Refresh.Merge((s, d, prev, deltas) => prev.unionByName(
            s.read.option("basePath", s"$d/region.parquet")
              .parquet(deltas("region"): _*).select("r_regionkey"))),
          numFiles = 1, sortKey = "r_regionkey")
      serveRegion().count(): Unit
      val store = DerivedStore.storePath(dir, "churn_tier")

      // a pathological writer that lands a new file on EVERY attempt:
      // the re-list check can never match, so after MaxStageAttempts
      // the publish must commit under the sentinel instead of looping
      var landed = 0
      def land(): Unit = {
        landed += 1
        Tables.load(spark, sfDir, "region").limit(1)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/stage-c")
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/stage-c")).forEach { f =>
          val n = f.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith("."))
            java.nio.file.Files.move(f,
              java.nio.file.Paths.get(src, s"churn-$landed-" + n)): Unit
        }
      }
      land() // make the store stale so the next serve publishes
      DerivedStore.onFingerprinted = () => land()
      try {
        serveRegion().count(): Unit // every attempt races a landing
        assert(landed == 4, s"prime + one landing per stage attempt, got $landed")
        val v = AtomicPublish.currentVersion(spark, store).get
        // the sentinel replaces only the fingerprint: the version still
        // records what its (last) attempt did — an append-only drift
        // taking the merge
        assert(DerivedStore.refreshOf(spark, s"$store/v=$v")
          .contains(DerivedStore.RefreshRecord("merge", "range")),
          "a churn-committed version records its mode")
        // provenance survives the churned publish (r10 verdict #3):
        // the sentinel carries the statically-known source tables, so
        // sourcesOfVersion — and a Lineage walk over the served tier —
        // still answers "which raw tables influenced this?"
        assert(DerivedStore.sourcesOfVersion(spark, s"$store/v=$v")
          .contains(Seq("region")),
          "churn-committed version must keep its source-table provenance")
        val churnLin = graft.tools.Lineage.columnLineage(
          spark.read.parquet(s"$store/v=$v"))
        assert(churnLin("r_regionkey") == Set(("region", "*")),
          s"lineage through a churned tier must reach the source table: $churnLin")
        // the committed version serves complete data but can never be
        // mistaken for fresh: with the writer silenced, the next serve
        // must REBUILD (sentinel != any real listing) and must take
        // the FULL path (sentinel classifies as Rewritten)
        DerivedStore.onFingerprinted = () => ()
        var snap = new TierSnapshot(spark)
        assert(serveRegion().count() == 6) // 2 + prime + 3 churn rows
        assert(AtomicPublish.currentVersion(spark, store).contains(v + 1),
          "post-churn serve must republish")
        assert(snap.modeOf(dir, "churn_tier").contains("full"),
          "a sentinel fingerprint must never classify as append-only")
        snap = new TierSnapshot(spark)
        assert(serveRegion().count() == 6 && snap.published.isEmpty,
          "the rebuilt version is fresh")
      } finally DerivedStore.onFingerprinted = () => ()
    }
  }

  test("source drift republishes with the new fingerprint; GC keeps exactly one superseded version") {
    withIsolated { dir =>
      serve(dir).count(): Unit
      val store = DerivedStore.storePath(dir, "nation_tier")
      val src = Paths.get(dir, "nation.parquet")
      def drift(): Unit = Files.setLastModifiedTime(src,
        java.nio.file.attribute.FileTime.fromMillis(
          Files.getLastModifiedTime(src).toMillis + 5000)): Unit
      drift(); serve(dir).count(): Unit
      assert(builds == 2 && AtomicPublish.currentVersion(spark, store).contains(2L))
      val fs = fsOf(store)
      assert(fs.exists(new Path(s"$store/v=1")), "superseded version must survive one cycle")
      drift(); serve(dir).count(): Unit
      assert(builds == 3 && AtomicPublish.currentVersion(spark, store).contains(3L))
      assert(!fs.exists(new Path(s"$store/v=1")), "two-cycle-old version must be swept")
      assert(fs.exists(new Path(s"$store/v=2")))
    }
  }

  test("a file appended under a `_p=1/` partition dir is drift: the next serve is not a no-op") {
    withIsolated { dir =>
      val part = s"$dir/parted.parquet/_p=1"
      val rows = spark.read.parquet(s"$sfDir/nation.parquet")
      rows.write.parquet(part)
      def serveParted(): DataFrame =
        DerivedStore.served(spark, dir, "parted_tier", Seq("parted"),
          (s, d) => Tables.load(s, d, "parted").select("n_nationkey", "n_name"),
          DerivedStore.Refresh.Rebuild, numFiles = 2, sortKey = "n_nationkey")
      assert(serveParted().count() == 25)
      rows.write.mode("append").parquet(part)
      assert(Tables.load(spark, dir, "parted").count() == 50, "Spark reads the appended file")
      val snap = new TierSnapshot(spark)
      assert(serveParted().count() == 50)
      assert(snap.modeOf(dir, "parted_tier").contains("full"),
        s"the append under _p=1/ must not serve stale: ${snap.published}")
    }
  }

  test("overlap probe: disjoint-range delta answered by the _keysummary sidecar, never the tier's data") {
    import org.apache.spark.sql.functions.col
    withIsolated { dir =>
      DerivedStore.served(spark, dir, "nation_sum", Seq("nation"),
        build, DerivedStore.Refresh.Merge((_, _, prev, _) => prev),
        numFiles = 2, sortKey = "n_nationkey",
        summaryKey = Some("n_nationkey")).count(): Unit
      val store = DerivedStore.storePath(dir, "nation_sum")
      val fs = fsOf(store)
      assert(DerivedStore.rowStatsOfVersion(spark, s"$store/v=1").flatMap(_.bloom)
          .exists(_._1 == "n_nationkey"),
        "declared summaryKey must record its bloom capacity on the key's _stats line")
      val prev = spark.read.parquet(s"$store/v=1")

      assert(fs.exists(new Path(s"$store/v=1/_keybloom")),
        "a version under the key budget also publishes the bloom layer")
      // a genuinely re-ingested key routes to the rebuild path (bloom
      // might-contain -> the exact semi-join confirms)
      val reingested = spark.range(1).select((col("id") + 24).as("n_nationkey"))
      assert(DerivedStore.deltaKeysOverlap(prev, reingested, "n_nationkey"))

      // THE O(Δ) contract: a delta sharing no key reads sidecars + the
      // delta and nothing else. Proof by demolition — with the tier's
      // data files gone, any history scan would throw.
      fs.listStatus(new Path(s"$store/v=1")).foreach { st =>
        if (st.getPath.getName.startsWith("part-"))
          fs.delete(st.getPath, false): Unit
      }
      // disjoint range: min/max answers
      val disjoint = spark.range(3).select((col("id") + 1000).as("n_nationkey"))
      assert(!DerivedStore.deltaKeysOverlap(prev, disjoint, "n_nationkey"),
        "disjoint-range delta must be answered summary-only")
      // range straddles [0,24] but shares no key: min/max can't
      // answer, the BLOOM must (still no data scan)
      val straddling = spark.range(2).select(
        (col("id") * 65 - 5).as("n_nationkey")) // {-5, 60}
      assert(!DerivedStore.deltaKeysOverlap(prev, straddling, "n_nationkey"),
        "straddling-but-disjoint delta must be answered bloom-only")
    }
  }

  test("a second serve of an unchanged tier launches no Spark job") {
    withIsolated { dir =>
      assert(serve(dir).count() == 25 && builds == 1)
      val (again, captured) = graft.core.Sessions.capture(spark)(serve(dir))
      assert(captured.jobs.size == 0, "an unchanged served version must resolve without a schema-inference job")
      assert(builds == 1 && again.columns.toSeq == Seq("n_nationkey", "n_name"))
    }
  }

  test("a served version rewritten in place serves its new rows at the next serve") {
    withIsolated { dir =>
      assert(serve(dir).count() == 25)
      val v1 = s"${DerivedStore.storePath(dir, "nation_tier")}/v=1"
      val td = TargetedDelete.deleteIds(spark, v1, "n_nationkey", Seq(3L, 4L))
      assert(td.rowsDeleted == 2, s"in-place takedown: $td")
      val after = serve(dir)
      assert(builds == 1, "an in-place rewrite is not source drift")
      assert(after.count() == 23)
      assert(after.filter("n_nationkey in (3, 4)").isEmpty)
    }
  }

  test("a store wiped and rebuilt at the same v=N serves the new schema and rows") {
    withIsolated { dir =>
      assert(serve(dir).count() == 25)
      val store = DerivedStore.storePath(dir, "nation_tier")
      fsOf(store).delete(new Path(store), true): Unit
      val rebuilt = DerivedStore.served(spark, dir, "nation_tier", Seq("nation"),
        (s, d) => Tables.load(s, d, "nation").filter("n_nationkey < 10")
          .select("n_nationkey", "n_regionkey"),
        DerivedStore.Refresh.Rebuild, numFiles = 2, sortKey = "n_nationkey")
      assert(AtomicPublish.currentVersion(spark, store).contains(1L),
        "the rebuild commits at the same version path")
      assert(rebuilt.columns.toSeq == Seq("n_nationkey", "n_regionkey"))
      assert(rebuilt.count() == 10)
    }
  }
}
