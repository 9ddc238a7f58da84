package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.streaming.StreamTierIngest

/** The one in-place swap ([[InPlaceSwap]]) under crashes, through both
  * of its callers: the takedown ([[TargetedDelete.deleteIds]]) and the
  * corpus sync ([[StreamTierIngest.syncCorpus]]). Each crash is a
  * [[FaultFs]] fault at one step of the swap; the retry is the caller
  * run again with the same arguments. Whatever the crash point, the
  * retry must leave exactly the post-swap rows and a `_filemap` that is
  * either absent or truthful — never one that lies. Both callers mutate
  * the same corpus table, so a crashed swap of one is finished by the
  * next entry of the other. */
class InPlaceSwapSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sameDocIds(got: DataFrame, want: DataFrame): Boolean = {
    val (g, w) = (got.select("doc_id"), want.select("doc_id"))
    g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty
  }

  /** "absent", "truthful" (exactly the on-disk data files, each with its
    * true key range) or "lying". */
  private def manifestState(table: String): String =
    ZoneMap.manifestOf(spark, table) match {
      case None => "absent"
      case Some(m) =>
        val truth = ZoneMap.statsOf(spark, table, m.key).collect()
          .map(r => (r.getString(0), r.get(1), r.get(2))).toSet
        if (m.entries.toSet == truth) "truthful" else "lying"
    }

  /** Run `body` with the fault armed; the fault must fire and fail it. */
  private def crash(arming: => Unit)(body: => Any): Unit = {
    arming
    try {
      val e = intercept[Exception](body)
      assert(!FaultFs.pending, s"the armed fault never fired; body failed with $e")
    } finally FaultFs.disarm()
  }

  private def inTable(table: String, p: Path) =
    p.getParent != null && p.getParent.toUri.getPath == new Path(table).toUri.getPath

  /** Crash points shared by both callers, as fault armings for a table
    * at local path `table` whose journal is the local file `journal`,
    * whose staging dirs are `staging` and whose staged files move in
    * under names starting with `prefix`. */
  private def crashPoints(table: String, journal: String, staging: Seq[String],
                          prefix: String): Map[String, () => Unit] = Map(
    "before END" -> (() => FaultFs.arm("create")(_.toUri.getPath == journal)),
    "after END, 0 moves" -> (() => FaultFs.arm("rename")(p =>
      inTable(table, p) && p.getName.startsWith(prefix))),
    "after END, 1 move" -> (() => FaultFs.arm("rename", skip = 1)(p =>
      inTable(table, p) && p.getName.startsWith(prefix))),
    // the first delete once a staged file has moved in: an old file,
    // or the staging drop when there is none
    "after END, all moves" -> (() => FaultFs.arm("delete")(p =>
      new java.io.File(table).list().exists(_.startsWith(prefix)) &&
        ((inTable(table, p) && p.getName.endsWith(".parquet")) ||
          staging.contains(p.toUri.getPath)))),
    "before the manifest rename" -> (() => FaultFs.arm("rename")(p =>
      inTable(table, p) && p.getName == ZoneMap.ManifestDir)))

  private val points = Seq("before END", "after END, 0 moves", "after END, 1 move",
    "after END, all moves", "before the manifest rename")

  test("takedown crash matrix: every crash point retries to the survivors with a truthful _filemap") {
    val targets = Seq(10L, 250L, 450L) // three range files: three moves
    val survivors = docs.filter(!col("doc_id").isin(targets: _*))
    val states = Seq.newBuilder[(String, String)]
    def fresh(name: String): String = {
      val local = tmpDir(name) + "/docs"
      SortedLayout.writeRangeSorted(docs, local, numFiles = 8, col("doc_id"))
      ZoneMap.write(spark, local, "doc_id")
      FaultFs.at(spark, local)
    }
    for (point <- points) {
      val table = fresh(s"tdel-crash-${point.replaceAll("[^a-zA-Z0-9-]", "_")}")
      val local = new Path(table).toUri.getPath
      val arm = crashPoints(local, local + ".delete-journal",
        Seq(local + ".delete-staging"), "deleted-rewrite-")(point)
      crash(arm())(TargetedDelete.deleteIds(spark, table, "doc_id", targets))
      val retry = TargetedDelete.deleteIds(spark, table, "doc_id", targets)
      assert(sameDocIds(spark.read.parquet(table), survivors),
        s"$point: the retry must leave exactly the survivors once each ($retry)")
      val st = manifestState(table)
      assert(st != "lying", s"$point: the _filemap lies after the retry")
      states += point -> st
      assert(!fsOf(table).exists(new Path(table + ".delete-journal")))
    }
    // a complete journal ends with the staged manifest adopted; a torn
    // one (the table was never touched) keeps the live one
    val got = states.result().toMap
    assert(got == points.map(_ -> "truthful").toMap, got)
  }

  test("takedown journal replay on a manifest-carrying table ends with a truthful _filemap") {
    val local = tmpDir("tdel-replay") + "/docs"
    SortedLayout.writeRangeSorted(docs, local, numFiles = 8, col("doc_id"))
    ZoneMap.write(spark, local, "doc_id")
    val table = FaultFs.at(spark, local)
    val targets = Seq(10L, 250L, 450L)
    // die with the journal committed and one of the three moves done
    crash(FaultFs.arm("rename", skip = 1)(_.getName.startsWith("deleted-rewrite-"))) {
      TargetedDelete.deleteIds(spark, table, "doc_id", targets)
    }
    assert(fsOf(table).exists(new Path(table + ".delete-journal")))
    // any later call replays first: absent ids prove the replay alone
    // finished the takedown, manifest included
    assert(TargetedDelete.deleteIds(spark, table, "doc_id", Seq(999999L)).rowsDeleted == 0L)
    assert(sameDocIds(spark.read.parquet(table), docs.filter(!col("doc_id").isin(targets: _*))))
    assert(manifestState(table) == "truthful")
  }

  test("a takedown that fails after its swap leaves no derived sidecar holding the deleted rows") {
    val local = tmpDir("tdel-sidecars") + "/docs"
    SortedLayout.writeRangeSorted(docs, local, numFiles = 4, col("doc_id"))
    ZoneMap.write(spark, local, "doc_id")
    val table = FaultFs.at(spark, local)
    val fs = fsOf(table)
    // the three advisory copies a publisher leaves beside the data:
    // the sync delta still holds every row, _stats and _buckets their
    // publish-time facts
    docs.write.parquet(s"$local/${StreamTierIngest.SyncDeltaDir}")
    Sidecar.write(fs, new Path(table, DerivedStore.RowStatsFile), "rows=stale")
    Sidecar.write(fs, new Path(table, DerivedStore.BucketsFile), "buckets=stale")
    val targets = Seq(20L, 21L)
    crash(FaultFs.arm("delete")(_.getName == "docs.delete-journal")) {
      TargetedDelete.deleteIds(spark, table, "doc_id", targets)
    }
    TargetedDelete.deleteIds(spark, table, "doc_id", Seq(999999L))
    Seq(StreamTierIngest.SyncDeltaDir, DerivedStore.RowStatsFile, DerivedStore.BucketsFile)
      .foreach(n => assert(!fs.exists(new Path(table, n)), s"$n survived the takedown"))
    assert(sameDocIds(spark.read.parquet(table), docs.filter(!col("doc_id").isin(targets: _*))))
  }

  /** A folded survivors store holding one streamed batch (batch 0):
    * its dir and its rows as the corpus sync publishes them. */
  private def streamedStore(name: String): (String, DataFrame) = {
    val base = tmpDir(name)
    val (in, out, idx, ckpt) = (s"$base/in", s"$base/out", s"$base/idx", s"$base/ckpt")
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    docs.filter(col("doc_id") % 3 === 1).limit(40)
      .coalesce(1).write.mode("append").parquet(in)
    val q = StreamTierIngest.start(spark, in, docs.schema, idx, out, ckpt)
    q.awaitTermination()
    q.stop()
    assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).nonEmpty)
    out -> StreamTierIngest.survivors(spark, out).drop("ingest_batch")
  }

  /** Warehouse rows of a corpus before any sync. */
  private def warehouse = docs.filter(col("doc_id") % 3 === 2).limit(30)

  /** A fresh corpus (two range files of [[warehouse]] rows and a manifest
    * on them) at local path `<tmp>/corpus`; returns its `fault:` path. */
  private def freshCorpus(name: String): String = {
    val local = tmpDir(name) + "/corpus"
    SortedLayout.writeRangeSorted(warehouse, local, numFiles = 2, col("doc_id"))
    ZoneMap.write(spark, local, "doc_id")
    FaultFs.at(spark, local)
  }

  private def onDiskFiles(table: String): Set[String] =
    new java.io.File(new Path(table).toUri.getPath).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet

  test("sync crash matrix: every crash point retries to the post-sync corpus with a truthful _filemap") {
    val (out, streamed) = streamedStore("swap-sync")
    val states = Seq.newBuilder[(String, String)]
    // a tiny delta right-sizes to ONE file, so "1 move" is "all moves"
    val syncPoints = points.filterNot(_ == "after END, 1 move") :+ "before the watermark"
    for (point <- syncPoints) {
      val corpus = freshCorpus(s"swap-sync-${point.replaceAll("[^a-zA-Z0-9-]", "_")}")
      val local = new Path(corpus).toUri.getPath
      val arm: () => Unit =
        if (point == "before the watermark")
          () => FaultFs.arm("create")(_.getName == "_stream_synced")
        else crashPoints(local, s"$local/.stream-sync-journal",
          Seq(s"$local/.stream-sync-staging", s"$local/.stream-sync-staging2"),
          "stream-sync-")(point)
      crash(arm())(StreamTierIngest.syncCorpus(spark, out, corpus))
      val retry = StreamTierIngest.syncCorpus(spark, out, corpus)
      assert(retry.exists(_.upto == 0L), s"$point: the retry syncs batch 0: $retry")
      assert(StreamTierIngest.syncCorpus(spark, out, corpus).isEmpty)
      assert(sameDocIds(spark.read.parquet(corpus), warehouse.unionByName(streamed)),
        s"$point: the retry must leave exactly the post-sync corpus")
      val st = manifestState(corpus)
      assert(st != "lying", s"$point: the _filemap lies after the retry")
      assert(ZoneMap.manifestOf(spark, corpus).exists(_.entries.map(_._1).toSet ==
        onDiskFiles(corpus)), s"$point: the replayed sync's _filemap must list exactly the on-disk files")
      states += point -> st
    }
    val got = states.result().toMap
    assert(got == syncPoints.map(_ -> "truthful").toMap, got)
  }

  test("a sync crashed after END is finished by the next takedown on the corpus: no _filemap lies, the doc stays gone") {
    val (out, streamed) = streamedStore("swap-sync-then-takedown")
    val corpus = freshCorpus("swap-sync-then-takedown-corpus")
    crash(FaultFs.arm("rename")(p => inTable(new Path(corpus).toUri.getPath, p) &&
      p.getName.startsWith("stream-sync-")))(StreamTierIngest.syncCorpus(spark, out, corpus))
    assert(fsOf(corpus).exists(new Path(corpus, ".stream-sync-journal")))
    // a warehouse doc: the re-sync below cannot bring it back
    val gone = warehouse.agg(max("doc_id")).head().getLong(0)
    val td = TargetedDelete.deleteIds(spark, corpus, "doc_id", Seq(gone))
    assert(td.rowsDeleted == 1L && td.discovery == "manifest",
      s"the takedown finds the doc through the manifest the replayed sync left: $td")
    assert(!fsOf(corpus).exists(new Path(corpus, ".stream-sync-journal")))
    assert(manifestState(corpus) == "truthful")
    assert(StreamTierIngest.syncCorpus(spark, out, corpus).exists(_.upto == 0L))
    assert(sameDocIds(spark.read.parquet(corpus),
      warehouse.filter(col("doc_id") =!= gone).unionByName(streamed)))
    assert(manifestState(corpus) == "truthful")
    assert(ZoneMap.manifestOf(spark, corpus).exists(_.entries.map(_._1).toSet ==
      onDiskFiles(corpus)))
  }

  test("a takedown crashed after END is finished by the next sync into the corpus: no _filemap lies") {
    val (out, streamed) = streamedStore("swap-takedown-then-sync")
    val corpus = freshCorpus("swap-takedown-then-sync-corpus")
    // the lowest and the highest warehouse doc: one in each range file
    val Seq(lo, hi) = warehouse.agg(min("doc_id"), max("doc_id")).head().toSeq
      .map(_.asInstanceOf[Long])
    crash(FaultFs.arm("rename")(_.getName.startsWith("deleted-rewrite-"))) {
      TargetedDelete.deleteIds(spark, corpus, "doc_id", Seq(lo, hi))
    }
    assert(fsOf(corpus).exists(new Path(corpus + ".delete-journal")))
    assert(StreamTierIngest.syncCorpus(spark, out, corpus).exists(_.upto == 0L))
    assert(!fsOf(corpus).exists(new Path(corpus + ".delete-journal")))
    assert(sameDocIds(spark.read.parquet(corpus),
      warehouse.filter(!col("doc_id").isin(lo, hi)).unionByName(streamed)))
    assert(manifestState(corpus) == "truthful")
    assert(ZoneMap.manifestOf(spark, corpus).exists(_.entries.map(_._1).toSet ==
      onDiskFiles(corpus)))
  }
}
