package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** The survivors-side nightly compaction ([[StreamTierIngest
  * .foldSurvivors]]) and corpus publication ([[StreamTierIngest
  * .syncCorpus]]): without them the corpus sink grows one
  * `ingest_batch=<id>` directory per micro-batch forever. The fold
  * must preserve exactly the never-folded row set, stay exactly-once
  * under a crash-replay spanning it, optionally collapse within-batch
  * near-dup families (the d3-at-compaction promise), and the sync
  * must publish folded batches as append-only part files exactly
  * once. Plus the checkpoint-IDENTITY binding: a checkpoint deleted
  * and recreated at the same path must be refused, not silently
  * folded over. */
class StreamSurvivorsFoldSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  private def drain(in: String, schema: org.apache.spark.sql.types.StructType,
                    idx: String, out: String, ckpt: String): Unit = {
    val q = StreamTierIngest.start(spark, in, schema, idx, out, ckpt)
    q.awaitTermination()
    q.stop()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  private def copiesOf(d: DataFrame, offset: Long): DataFrame =
    d.withColumn("doc_id", col("doc_id") + lit(offset))

  private def deleteLastCommit(ckpt: String): Unit = {
    val lastCommit = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$ckpt/commits")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(!_.getFileName.toString.startsWith("."))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(lastCommit)
    java.nio.file.Files.deleteIfExists(lastCommit.resolveSibling(
      "." + lastCommit.getFileName.toString + ".crc")): Unit
  }

  private def docIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def batchDirCount(dir: String): Int =
    new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ingest_batch="))

  test("survivors fold == never-folded read; replay spanning the fold; minor/major modes; provenance") {
    val base = tmpDir("surv-fold")
    val schema = docs.schema
    def dirs(side: String) =
      (s"$base/$side/in", s"$base/$side/idx", s"$base/$side/out", s"$base/$side/ckpt")
    val (inA, idxA, outA, ckptA) = dirs("a")
    val (inB, idxB, outB, ckptB) = dirs("b")

    val corpus = docs.filter(col("doc_id") % 3 === 0).cache()
    StreamTierIngest.bootstrapIndex(corpus, idxA)
    StreamTierIngest.bootstrapIndex(corpus, idxB)

    val b0 = docs.filter(col("doc_id") % 3 === 1)
      .unionByName(copiesOf(corpus.limit(10), 1000000L))
    b0.coalesce(1).write.mode("append").parquet(inA)
    b0.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)

    val f1 = StreamTierIngest.foldSurvivors(spark, outA, ckptA)
    assert(f1.exists(_.parts == 1), s"batch 0 must fold, got $f1")
    assert(f1.exists(_.mode == "full"))
    assert(docIds(StreamTierIngest.survivors(spark, outA)) ==
      docIds(spark.read.parquet(outB)),
      "folded corpus must equal the never-folded control")
    assert(batchDirCount(outA) == 0,
      "folded partitions are deleted — listing cost is O(since-last-fold)")
    assert(StreamTierIngest.foldSurvivors(spark, outA, ckptA).isEmpty,
      "re-running a folded night is a no-op")

    // batch 1, crash window: sink writes landed, commit didn't, and the
    // nightly folds ran before the restart — the uncommitted batch must
    // stay live, the replay overwrites it exactly-once
    val survivorIds = spark.read.parquet(outB).select("doc_id").limit(15)
    val b1 = copiesOf(docs.join(survivorIds, "doc_id"), 2000000L)
      .unionByName(docs.filter(col("doc_id") % 3 === 2).limit(20))
    b1.coalesce(1).write.mode("append").parquet(inA)
    b1.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)
    deleteLastCommit(ckptA)
    assert(StreamTierIngest.foldSurvivors(spark, outA, ckptA).isEmpty,
      "batch 1 is in the crash window — nothing foldable")
    drain(inA, schema, idxA, outA, ckptA) // replays batch 1
    assert(docIds(StreamTierIngest.survivors(spark, outA)) ==
      docIds(spark.read.parquet(outB)),
      "replay across the fold must not duplicate or drop survivors")

    // minor compaction: the re-committed batch appends a delta-sized
    // sorted run beside the byte-copied base
    val f2 = StreamTierIngest.foldSurvivors(spark, outA, ckptA)
    assert(f2.exists(f => f.parts == 1 && f.mode == "append"),
      s"second fold is the minor append: $f2")
    assert(docIds(StreamTierIngest.survivors(spark, outA)) ==
      docIds(spark.read.parquet(outB)))

    // major rewrite on file-budget breach
    val b2 = docs.filter(col("doc_id") % 3 === 2)
      .filter(col("doc_id") % 7 === 0).limit(8)
    b2.coalesce(1).write.mode("append").parquet(inA)
    b2.coalesce(1).write.mode("append").parquet(inB)
    drain(inA, schema, idxA, outA, ckptA)
    drain(inB, schema, idxB, outB, ckptB)
    graft.io.DerivedStore.lsmBudgetOverride = Some(0L)
    try {
      val fr = StreamTierIngest.foldSurvivors(spark, outA, ckptA)
      assert(fr.exists(f => f.parts == 1 && f.mode == "rewrite"),
        s"budget breach takes the major rewrite: $fr")
    } finally graft.io.DerivedStore.lsmBudgetOverride = None
    assert(docIds(StreamTierIngest.survivors(spark, outA)) ==
      docIds(spark.read.parquet(outB)))

    // provenance: the gate's compacted versions carry their source
    // tables in the sentinel-form fingerprint, so sourcesOfVersion —
    // and tools/Lineage — traverse a stream-index scan like any tier
    assert(StreamTierIngest.fold(spark, idxA, ckptA).nonEmpty)
    val idxStore = s"$idxA/.compacted"
    val iv = graft.io.AtomicPublish.currentVersion(spark, idxStore).get
    val srcs = graft.io.DerivedStore.sourcesOfVersion(spark, s"$idxStore/v=$iv")
    assert(srcs.exists(_.contains("documents")),
      s"index compacted version must record its bootstrap table: $srcs")
    val leaves = graft.tools.Lineage
      .columnLineage(spark.read.parquet(s"$idxStore/v=$iv"))
      .valuesIterator.flatten.map(_._1).toSet
    assert(leaves.contains("documents"),
      s"a stream-index scan must trace to its raw tables: $leaves")
    val svStore = s"$outA/.compacted"
    val sv = graft.io.AtomicPublish.currentVersion(spark, svStore).get
    assert(graft.io.DerivedStore.sourcesOfVersion(spark, s"$svStore/v=$sv")
      .exists(_.contains("in")),
      "survivors compacted version records the stream source dir")
    corpus.unpersist(): Unit
  }

  test("nearDupAtFold: within-batch near-dup families collapse to min doc_id at compaction") {
    val base = tmpDir("surv-neardup")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val schema = docs.schema
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)

    // a crawler burst: one fresh doc under 3 ids (identical content →
    // identical band keys, the tightest near-dup family) + unique docs
    val fresh = docs.filter(col("doc_id") % 3 === 1).limit(1).cache()
    val freshId = fresh.head().getAs[Long]("doc_id")
    val burst = (1 to 3).map(i => copiesOf(fresh, 3000000L + i * 10))
      .reduce(_ unionByName _)
      .unionByName(docs.filter(col("doc_id") % 3 === 2).limit(5))
    burst.coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)

    // the gate's contract: within-batch dups all survive ingest
    val preFold = spark.read.parquet(out)
    assert(preFold.filter(col("doc_id") >= 3000000L).count() == 3,
      "within-batch copies survive the gate (the probe sees the index as of batch start)")
    val preCount = preFold.count()

    val f = StreamTierIngest.foldSurvivors(spark, out, ckpt, nearDupAtFold = true)
    assert(f.exists(_.rows == preCount),
      s"the log count is rows READ from the folded partitions: $f vs $preCount")
    val folded = StreamTierIngest.survivors(spark, out)
    val burstKept = folded.filter(col("doc_id") >= 3000000L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(burstKept == Seq(freshId + 3000010L),
      s"exactly the family's min doc_id survives the fold: $burstKept")
    assert(folded.count() == preCount - 2,
      "only the family's two non-canonical members are dropped")
    fresh.unpersist(): Unit
  }

  test("syncCorpus: folded batches publish append-only, exactly once, crash-retry safe") {
    val base = tmpDir("surv-sync")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val corpusDir = s"$base/corpus"
    val schema = docs.schema
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)

    assert(StreamTierIngest.syncCorpus(spark, out, corpusDir).isEmpty,
      "nothing folded yet: nothing to sync")

    docs.filter(col("doc_id") % 3 === 1).limit(40)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    val kept0 = spark.read.parquet(out).count()
    assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).nonEmpty)

    val s1 = StreamTierIngest.syncCorpus(spark, out, corpusDir)
    assert(s1.exists(sy => sy.rows == kept0 && sy.upto == 0L),
      s"batch 0's survivors sync: $s1 vs $kept0")
    assert(spark.read.parquet(corpusDir).count() == kept0)
    val files0 = new java.io.File(corpusDir).listFiles()
      .filter(_.getName.startsWith("stream-sync-")).map(_.getName)
    assert(files0.nonEmpty && files0.forall(_.startsWith("stream-sync-0-0-")),
      s"part files carry their batch range: ${files0.toSeq}")
    assert(files0.length == 1,
      s"a tiny delta lands ONE right-sized file, not one per base partition: ${files0.toSeq}")
    assert(StreamTierIngest.syncCorpus(spark, out, corpusDir).isEmpty,
      "an already-synced watermark is a no-op")

    // crash window: files moved in, watermark not yet advanced — the
    // retry recomputes the SAME range and overwrites its own files
    spark.catalog.clearCache()
    assert(new java.io.File(s"$corpusDir/_stream_synced").delete())
    val retry = StreamTierIngest.syncCorpus(spark, out, corpusDir)
    assert(retry.exists(_.rows == kept0))
    assert(spark.read.parquet(corpusDir).count() == kept0,
      "the crash-retry must not duplicate rows")

    // a zone map someone published on the corpus table must survive
    // the sync CORRECT (r12 review): the appended files join the
    // manifest, so manifest-pruned reads — including the takedown
    // path — see the streamed rows
    graft.io.ZoneMap.write(spark, corpusDir, "doc_id")

    // batch 1 folds and syncs as its own append
    docs.filter(col("doc_id") % 3 === 2).limit(20)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    val kept1 = spark.read.parquet(out).count() // live partition only (batch 1)
    assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).nonEmpty)
    val s2 = StreamTierIngest.syncCorpus(spark, out, corpusDir)
    assert(s2.exists(sy => sy.rows == kept1 && sy.upto == 1L),
      s"batch 1 syncs its own delta: $s2 vs $kept1")
    spark.catalog.clearCache()
    assert(spark.read.parquet(corpusDir).count() == kept0 + kept1)

    val m = graft.io.ZoneMap.manifestOf(spark, corpusDir)
    val onDisk = new java.io.File(corpusDir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("stream-sync-"))
      .map(_.getName).toSet
    assert(m.exists(_.entries.map(_._1).toSet == onDisk),
      s"the sync maintains the manifest: ${m.map(_.entries.map(_._1))} vs $onDisk")
    val takedownId = StreamTierIngest.survivors(spark, out)
      .filter(col("ingest_batch") === 1L).select("doc_id").head().getLong(0)
    val td = graft.io.TargetedDelete.deleteIds(spark, corpusDir, "doc_id",
      Seq(takedownId))
    assert(td.discovery == "manifest" && td.rowsDeleted == 1,
      s"the takedown must FIND a streamed doc through the manifest: $td")
  }

  test("syncCorpus prunes its delta read every night: manifest on appends, syncdelta after a rewrite") {
    val base = tmpDir("surv-sync-prune")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val corpusDir = s"$base/corpus"
    val schema = docs.schema
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)

    // the identity pin is EAGER (r12 advice): the very first start()
    // writes the marker and pins the just-created checkpoint's id in
    // the same call, not at the next bind contact
    docs.filter(col("doc_id") % 3 === 1).limit(40)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    val marker = graft.io.Sidecar.read(
      new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(out, "_checkpoint"))
    assert(marker.exists(_.contains("id=")),
      s"first start() must pin the checkpoint identity eagerly: $marker")

    assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).nonEmpty)
    val kept0 = StreamTierIngest.survivors(spark, out).count()
    val s1 = StreamTierIngest.syncCorpus(spark, out, corpusDir)
    assert(s1.exists(_.rows == kept0))
    assert(s1.exists(_.scan.startsWith("manifest")),
      s"the first fold writes the batch manifest: $s1")

    // append night: the base's byte-copied files cap at batch 0, so the
    // manifest confines the sync to the night's sorted runs
    docs.filter(col("doc_id") % 3 === 2).limit(20)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).exists(_.mode == "append"))
    val kept1 = StreamTierIngest.survivors(spark, out).count() - kept0
    val s2 = StreamTierIngest.syncCorpus(spark, out, corpusDir)
    assert(s2.exists(_.rows == kept1), s"$s2 vs $kept1")
    val prune = s2.map(_.scan)
    val kn = prune.collect {
      case p if p.startsWith("manifest:") =>
        val Array(k, n) = p.stripPrefix("manifest:").split("/").map(_.toInt)
        (k, n)
    }
    assert(kn.exists { case (k, n) => k < n },
      s"an append night's sync must open only delta-holding files: $prune")

    // an ALL-DUPLICATE batch (a re-crawl night): every doc is already
    // in the corpus, nothing survives — the gate must skip the empty
    // writes and keep streaming, even though the fold has deleted
    // every live partition (an empty dynamic overwrite would leave the
    // survivors dir sidecar-only and unreadable)
    copiesOf(StreamTierIngest.survivors(spark, out)
        .drop("ingest_batch").limit(10), 4000000L)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    assert(StreamTierIngest.survivors(spark, out).count() == kept0 + kept1,
      "an all-dup batch keeps nothing and must not kill the stream")

    // rewrite night: batches mix into every doc_id-range file, so the
    // fold leaves an exact _syncdelta copy and the sync reads THAT.
    // Synthetic per-doc texts: genuinely novel content, so the batch
    // survives the gate whole.
    copiesOf(docs.limit(10), 5000000L)
      .withColumn("text", concat_ws(" ",
        md5(concat(lit("s1"), col("doc_id"))),
        md5(concat(lit("s2"), col("doc_id"))),
        md5(concat(lit("s3"), col("doc_id")))))
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    graft.io.DerivedStore.lsmBudgetOverride = Some(0L)
    try {
      assert(StreamTierIngest.foldSurvivors(spark, out, ckpt).exists(_.mode == "rewrite"))
    } finally graft.io.DerivedStore.lsmBudgetOverride = None
    val keptAll = StreamTierIngest.survivors(spark, out).count()
    val s3 = StreamTierIngest.syncCorpus(spark, out, corpusDir)
    assert(s3.exists(_.rows == keptAll - kept0 - kept1), s"$s3")
    assert(s3.exists(_.scan == "syncdelta"),
      s"a rewrite night's sync reads the exact delta copy: $s3")
    spark.catalog.clearCache()
    assert(spark.read.parquet(corpusDir).count() == keptAll,
      "however the delta was sourced, the corpus equals the survivors")

    // crash recovery (r12 advice): an attempt that died between the
    // watermark write and the manifest swap is completed at next entry
    // when the staged manifest exactly describes the on-disk files —
    // the corpus is never left permanently manifest-less
    graft.io.ZoneMap.write(spark, corpusDir, "doc_id")
    val live = new java.io.File(s"$corpusDir/_filemap")
    val staged = new java.io.File(s"$corpusDir/.filemap-sync-staging")
    assert(live.renameTo(staged), "spec setup: simulate the crash window")
    assert(StreamTierIngest.syncCorpus(spark, out, corpusDir).isEmpty,
      "watermark already advanced: the retry is a sync no-op")
    assert(graft.io.ZoneMap.manifestFor(spark, corpusDir, "doc_id").nonEmpty,
      "entry must complete the crashed rename, not delete the staged manifest")
    assert(!staged.exists())
  }

  test("a checkpoint deleted and recreated at the same path is refused by identity") {
    val base = tmpDir("surv-ckpt-id")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val schema = docs.schema
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    docs.filter(col("doc_id") % 3 === 1).limit(20)
      .coalesce(1).write.mode("append").parquet(in)
    drain(in, schema, idx, out, ckpt)
    // pin the identity (the first start() preceded the checkpoint's
    // creation, so the marker upgrades on this contact) and fold so
    // the compacted watermark exists — the hazard's precondition
    assert(StreamTierIngest.fold(spark, idx, ckpt).nonEmpty)

    // delete + recreate the checkpoint at the same path with a fresh
    // identity: its batch ids restart at 0 ≤ the folded watermark, so
    // an unguarded fold would delete the new stream's partitions as
    // "already-folded crash leftovers" — refuse before any deletion
    def rmAndRecreate(metaJson: Option[String]): Unit = {
      val root = java.nio.file.Paths.get(ckpt)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
      metaJson.foreach { j =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt)): Unit
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$ckpt/metadata"),
          j.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }
    rmAndRecreate(Some("""{"id":"00000000-dead-beef-0000-000000000000"}"""))
    val e1 = intercept[IllegalArgumentException] {
      StreamTierIngest.fold(spark, idx, ckpt)
    }
    assert(e1.getMessage.contains("identity"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      StreamTierIngest.start(spark, in, schema, idx, out, ckpt)
    }
    assert(e2.getMessage.contains("identity"), e2.getMessage)

    // a checkpoint deleted WITHOUT recreation (no metadata at all) is
    // just as dead: ids would restart at 0
    rmAndRecreate(None)
    val e3 = intercept[IllegalArgumentException] {
      StreamTierIngest.fold(spark, idx, ckpt)
    }
    assert(e3.getMessage.contains("deleted"), e3.getMessage)
  }
}
