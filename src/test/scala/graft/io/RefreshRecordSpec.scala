package graft.io

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, md5, udf}

import graft.SparkSpec
import graft.core.Tables
import graft.io.DerivedStore.{Refresh, RefreshRecord}

/** Armed by the crash-then-retry test: a stage whose rows are
  * evaluated while this is set fails inside its write. */
object RefreshRecordCrash {
  @volatile var armed = false
}

/** The `_refresh` record every serve-loop publish commits inside its
  * version: one test per publish path (full, `Refresh.Merge`, LSM
  * append and rewrite, bucketed full and patch, `servedDir` full and
  * merge), and a stage that fails before its commit leaves no record.
  * Each path also pins the exact set of `_`-prefixed entries its
  * version commits. The stream gate's folds commit through the same
  * tail, so their versions carry the record too.
  * The churn-sentinel commit's record is pinned in `DerivedStoreSpec`. */
class RefreshRecordSpec extends SparkSpec {

  private val cols = Seq("n_nationkey", "n_name")

  private def nation(from: Int, until: Int): DataFrame =
    Tables.load(spark, sfDir, "nation").select(cols.map(col): _*)
      .filter(col("n_nationkey") >= from && col("n_nationkey") < until)

  /** A directory-layout nation table holding keys 0..9, under its own
    * store root. */
  private def withSource[A](body: String => A): A = {
    val dir = tmpDir("refresh-rec-src")
    nation(0, 10).coalesce(1).write.parquet(s"$dir/nation.parquet")
    val prev = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("refresh-rec-root")
    try body(dir)
    finally prev match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  /** Land nation keys [from, until) as a new part file: append-only
    * drift. */
  private def append(dir: String, from: Int, until: Int): Unit = {
    val stage = tmpDir("refresh-rec-delta")
    nation(from, until).coalesce(1).write.parquet(s"$stage/d")
    new java.io.File(s"$stage/d").listFiles().filter(_.getName.startsWith("part-"))
      .foreach(f => Files.move(f.toPath, Paths.get(dir, "nation.parquet", f.getName)))
  }

  private val build: (SparkSession, String) => DataFrame =
    (s, d) => Tables.load(s, d, "nation").select(cols.map(col): _*)

  private def deltaRows(s: SparkSession, d: String,
                        deltas: Map[String, Seq[String]]): DataFrame =
    Tables.loadFiles(s, d, "nation", deltas("nation")).select(cols.map(col): _*)

  private def serve(dir: String, name: String, refresh: Refresh): Long =
    DerivedStore.served(spark, dir, name, Seq("nation"), build, refresh,
      numFiles = 1, sortKey = "n_nationkey", summaryKey = Some("n_nationkey")).count()

  /** Every `_`-prefixed entry a frame-tier version with a summary key
    * under the bloom budget commits (`_buckets` too when bucketed). */
  private val frameSidecars =
    Set("_SUCCESS", "_fingerprint", "_refresh", "_stats", "_filemap", "_keybloom")

  /** The `_`-prefixed entries of a version dir. */
  private def sidecarsAt(versionDir: String): Set[String] =
    new java.io.File(versionDir).list().filter(_.startsWith("_")).toSet

  private def sidecars(dir: String, name: String): Set[String] = {
    val store = DerivedStore.storePath(dir, name)
    sidecarsAt(s"$store/v=${AtomicPublish.currentVersion(spark, store).get}")
  }

  /** (committed version, its record) of the store. */
  private def current(dir: String, name: String): (Long, Option[RefreshRecord]) = {
    val store = DerivedStore.storePath(dir, name)
    val v = AtomicPublish.currentVersion(spark, store).get
    v -> DerivedStore.refreshOf(spark, s"$store/v=$v")
  }

  test("full build: mode=full layout=range, committed inside the version; a fresh serve keeps it") {
    withSource { dir =>
      assert(serve(dir, "rec_full", Refresh.Rebuild) == 10)
      val store = DerivedStore.storePath(dir, "rec_full")
      assert(Files.readString(Paths.get(s"$store/v=1/_refresh")) == "mode=full layout=range")
      assert(current(dir, "rec_full") == (1L -> Some(RefreshRecord("full", "range"))))
      assert(sidecars(dir, "rec_full") == frameSidecars)
      assert(serve(dir, "rec_full", Refresh.Rebuild) == 10)
      assert(current(dir, "rec_full")._1 == 1L, "a fingerprint-fresh serve publishes nothing")
      append(dir, 10, 25)
      assert(serve(dir, "rec_full", Refresh.Rebuild) == 25)
      assert(current(dir, "rec_full") == (2L -> Some(RefreshRecord("full", "range"))),
        "Rebuild never merges, even on append-only drift")
      assert(sidecars(dir, "rec_full") == frameSidecars)
    }
  }

  test("Refresh.Merge on append-only drift: mode=merge layout=range") {
    withSource { dir =>
      val merge = Refresh.Merge((s, d, prev, deltas) => prev.unionByName(deltaRows(s, d, deltas)))
      assert(serve(dir, "rec_merge", merge) == 10)
      assert(current(dir, "rec_merge") == (1L -> Some(RefreshRecord("full", "range"))))
      append(dir, 10, 25)
      assert(serve(dir, "rec_merge", merge) == 25)
      assert(current(dir, "rec_merge") == (2L -> Some(RefreshRecord("merge", "range"))))
      assert(sidecars(dir, "rec_merge") == frameSidecars)
    }
  }

  test("Refresh.Lsm: the minor append records lsm-append, a budget breach lsm-rewrite") {
    withSource { dir =>
      val lsm = Refresh.Lsm((s, d, _, deltas) => Some(deltaRows(s, d, deltas)))
      assert(serve(dir, "rec_lsm", lsm) == 10)
      assert(current(dir, "rec_lsm") == (1L -> Some(RefreshRecord("full", "range"))))
      append(dir, 10, 15)
      assert(serve(dir, "rec_lsm", lsm) == 15)
      assert(current(dir, "rec_lsm") == (2L -> Some(RefreshRecord("merge", "lsm-append"))))
      assert(sidecars(dir, "rec_lsm") == frameSidecars)
      append(dir, 15, 25)
      DerivedStore.lsmBudgetOverride = Some(0L)
      try assert(serve(dir, "rec_lsm", lsm) == 25)
      finally DerivedStore.lsmBudgetOverride = None
      assert(current(dir, "rec_lsm") == (3L -> Some(RefreshRecord("merge", "lsm-rewrite"))))
      assert(sidecars(dir, "rec_lsm") == frameSidecars)
    }
  }

  test("Refresh.Bucketed: the full build records bucketed, the patch bucketed-patch") {
    withSource { dir =>
      val bucketed = Refresh.Bucketed((s, d, _, deltas) => Some(deltaRows(s, d, deltas)), 4)
      assert(serve(dir, "rec_bucketed", bucketed) == 10)
      assert(current(dir, "rec_bucketed") == (1L -> Some(RefreshRecord("full", "bucketed"))))
      assert(sidecars(dir, "rec_bucketed") == frameSidecars + "_buckets")
      append(dir, 10, 25)
      assert(serve(dir, "rec_bucketed", bucketed) == 25)
      assert(current(dir, "rec_bucketed") ==
        (2L -> Some(RefreshRecord("merge", "bucketed-patch"))))
      assert(sidecars(dir, "rec_bucketed") == frameSidecars + "_buckets")
    }
  }

  test("servedDir: the full write records dir, the merge dir-copy; the copy never carries the old record") {
    withSource { dir =>
      var copiedRecord: Option[Boolean] = None
      val merge: DerivedStore.DirMerge = (s, d, staging, deltas) => {
        copiedRecord = Some(new java.io.File(staging, "_refresh").exists())
        deltaRows(s, d, deltas).write.mode("append").parquet(s"$staging/rows")
        true
      }
      def serveDir(): String =
        DerivedStore.servedDir(spark, dir, "rec_dir", Seq("nation"), Some(merge))(
          (s, d, p) => build(s, d).write.parquet(s"$p/rows"))
      val p1 = serveDir()
      assert(p1.endsWith("v=1") && spark.read.parquet(s"$p1/rows").count() == 10)
      assert(DerivedStore.refreshOf(spark, p1).contains(RefreshRecord("full", "dir")))
      assert(sidecarsAt(p1) == Set("_SUCCESS", "_fingerprint", "_refresh"))
      append(dir, 10, 25)
      val p2 = serveDir()
      assert(p2.endsWith("v=2") && spark.read.parquet(s"$p2/rows").count() == 25)
      assert(DerivedStore.refreshOf(spark, p2).contains(RefreshRecord("merge", "dir-copy")))
      assert(sidecarsAt(p2) == Set("_SUCCESS", "_fingerprint", "_refresh"))
      assert(copiedRecord.contains(false),
        s"the byte-copy must leave the served version's record behind: $copiedRecord")
    }
  }

  test("a stage that throws commits nothing; the retry's version records its own mode") {
    withSource { dir =>
      val boom = udf((n: String) => {
        if (RefreshRecordCrash.armed) throw new IllegalStateException("injected stage failure")
        n != null
      }).asNondeterministic()
      val merge = Refresh.Merge((s, d, prev, deltas) =>
        prev.unionByName(deltaRows(s, d, deltas)).filter(boom(col("n_name"))))
      assert(serve(dir, "rec_crash", merge) == 10)
      append(dir, 10, 25)
      RefreshRecordCrash.armed = true
      try intercept[Exception](serve(dir, "rec_crash", merge))
      finally RefreshRecordCrash.armed = false
      val store = DerivedStore.storePath(dir, "rec_crash")
      val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(current(dir, "rec_crash") == (1L -> Some(RefreshRecord("full", "range"))),
        "the failed attempt must not publish")
      val staged = fs.listStatus(new Path(store)).map(_.getPath)
        .filter(_.getName.startsWith(".tx-"))
      assert(!staged.exists(p => fs.exists(new Path(p, "_refresh"))),
        s"an uncommitted attempt leaves no record: ${staged.toSeq}")
      assert(serve(dir, "rec_crash", merge) == 25)
      assert(current(dir, "rec_crash") == (2L -> Some(RefreshRecord("merge", "range"))))
    }
  }

  test("stream folds: the first fold records full/range, then lsm-append, a budget breach lsm-rewrite; provenance survives") {
    import graft.streaming.StreamTierIngest
    val base = tmpDir("refresh-rec-fold")
    val (in, idx, out, ckpt) = (s"$base/in", s"$base/idx", s"$base/out", s"$base/ckpt")
    val docs = Tables.load(spark, sfDir, "documents")
    StreamTierIngest.bootstrapIndex(docs, idx)
    // a batch of 10 genuinely novel documents: it survives the gate whole
    def batch(offset: Long): Unit = {
      docs.limit(10).withColumn("doc_id", col("doc_id") + lit(offset))
        .withColumn("text", concat_ws(" ",
          Seq("a", "b", "c", "d").map(t => md5(concat(lit(t), col("doc_id")))): _*))
        .coalesce(1).write.mode("append").parquet(in)
      val q = StreamTierIngest.start(spark, in, docs.schema, idx, out, ckpt)
      q.awaitTermination()
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    }
    /** Fold both stores; (record, `_` entries, sources) of each
      * store's new version. */
    def foldBoth(): Seq[(Option[RefreshRecord], Set[String], Option[Seq[String]])] = {
      assert(StreamTierIngest.fold(spark, idx, ckpt).nonEmpty)
      assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).nonEmpty)
      Seq(idx, out).map { d =>
        val store = s"$d/.compacted"
        val v = s"$store/v=${AtomicPublish.currentVersion(spark, store).get}"
        (DerivedStore.refreshOf(spark, v), sidecarsAt(v), DerivedStore.sourcesOfVersion(spark, v))
      }
    }
    val foldSidecars = Set("_SUCCESS", "_fingerprint", "_refresh", "_folded")
    val survivorSidecars = foldSidecars + "_filemap"
    val indexSources = Some(Seq("documents", "in"))
    val survivorSources = Some(Seq("in"))

    batch(6000000L)
    assert(foldBoth() == Seq(
      (Some(RefreshRecord("full", "range")), foldSidecars, indexSources),
      (Some(RefreshRecord("full", "range")), survivorSidecars, survivorSources)))
    batch(7000000L)
    assert(foldBoth() == Seq(
      (Some(RefreshRecord("merge", "lsm-append")), foldSidecars, indexSources),
      (Some(RefreshRecord("merge", "lsm-append")), survivorSidecars, survivorSources)))
    batch(8000000L)
    DerivedStore.lsmBudgetOverride = Some(0L)
    val rewritten = try foldBoth() finally DerivedStore.lsmBudgetOverride = None
    assert(rewritten == Seq(
      (Some(RefreshRecord("merge", "lsm-rewrite")), foldSidecars, indexSources),
      (Some(RefreshRecord("merge", "lsm-rewrite")), survivorSidecars + "_syncdelta",
        survivorSources)))
  }
}
